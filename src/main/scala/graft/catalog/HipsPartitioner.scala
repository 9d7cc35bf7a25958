package graft.catalog

import graft.catalog.CatalogFormat._
import graft.functions.{sphere, PartitionGrid}
import graft.healpix.Healpix
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Density-adaptive HEALPix partitioning — Spark-first re-expression
 * of the reference partitioner (hipscat/partitioner.py):
 *
 *  1. histogram the catalog on an order-k healpix map
 *     (gather_statistics, partitioner.py:94) — a single map-side-
 *     combined groupBy; the collected result is SPARSE (occupied
 *     pixels only), so driver memory is data-bounded and the order
 *     can rise to 14 even at 100 TB.
 *  2. top-down threshold walk (compute_partitioning_map,
 *     partitioner.py:136): from order 0 down to k, assign every
 *     still-active pixel whose rebinned count < threshold.
 *     (Deviation: pixels still ≥ threshold at order k are assigned
 *     at k rather than failing, so the walk always terminates.)
 *  3. write hive-style `catalog/Norder=K/Dir=D/Npix=P/` parquet
 *     (partitioner.py:233 _write_partition_structure layout) via a
 *     single distributed write partitioned by the assigned pixel —
 *     file sizes are bounded by the threshold, partition pruning on
 *     Norder/Npix is native.
 *  4. margin ("neighbor") cache (margin_utils.py + dask_utils.py:246):
 *     rows within `marginDeg` of a FOREIGN partition pixel are
 *     replicated under `neighbor/Norder=K/Dir=D/Npix=P/` via a
 *     bounded disc-cover explode.
 */
object HipsPartitioner {

  /** Adaptive partition map: a SPARSE sky tiling ([[PartitionGrid]])
   *  plus the sparse order-k histogram (occupied pixels only, sorted).
   *  Driver memory is bounded by OCCUPIED pixels and tiles — never by
   *  12*4^k — so the histogram order can rise to the `_ID` index
   *  order (14) on realistic skies. */
  final case class PartitionMap(orderK: Int, grid: PartitionGrid,
                                histPix: Array[Long], histCnt: Array[Long]) {
    def assignedOrder(pixK: Long): Int = grid.order(pixK)
    def partitionPixel(pixK: Long): Long = pixK >> (2 * (orderK - grid.order(pixK)))
    def nSources: Long = histCnt.sum
    /** (order, pixel) pairs that actually hold data (empty sky excluded). */
    def pixelsAtOrders: Map[Int, Array[Long]] = {
      val m = scala.collection.mutable.Map.empty[Int, scala.collection.mutable.Set[Long]]
      var i = 0
      while (i < histPix.length) {
        val o = grid.order(histPix(i))
        m.getOrElseUpdate(o, scala.collection.mutable.Set.empty) += (histPix(i) >> (2 * (orderK - o)))
        i += 1
      }
      m.map { case (o, s) => o -> s.toArray.sorted }.toMap
    }
  }

  /** The reference caps its gather at order 10 (partitioner.py:94,
   *  dense 12*4^10 array); the sparse walk lifts that to the `_ID`
   *  rank order 14 — the hard ceiling for the shuffle-free rank
   *  computation in withSpatialId (orderK <= 14 keeps every order-14
   *  pixel inside one partition). */
  private[catalog] def requireOrderK(orderK: Int): Unit =
    require(orderK >= 0 && orderK <= 14,
      s"orderK must be in [0, 14] (got $orderK) — 14 is the _ID rank order; finer partition " +
        "pixels would split an order-14 pixel across partitions and break rank locality")

  /** Step 1+2: histogram at order k and run the top-down threshold
   *  walk. The groupBy returns one row per OCCUPIED pixel (map-side
   *  combined), so the collect is data-bounded, not 4^k-bounded. */
  def computePartitionMap(df: DataFrame, raCol: String, decCol: String,
                          orderK: Int, threshold: Long): PartitionMap = {
    requireOrderK(orderK)
    val rows = pixelHistogram(df, raCol, decCol, orderK).collect()
    val pix = new Array[Long](rows.length)
    val cnt = new Array[Long](rows.length)
    var i = 0
    while (i < rows.length) { pix(i) = rows(i).getLong(0); cnt(i) = rows(i).getLong(1); i += 1 }
    partitionMapFromSparseHist(pix, cnt, orderK, threshold)
  }

  /**
   * The top-down threshold walk over a SPARSE histogram: recurse a
   * subtree only while its occupied count reaches the threshold, emit
   * a tile otherwise — identical assignment to the dense walk (a
   * pixel lands at the FIRST order whose subtree count drops under
   * the threshold, else at order k; empty siblings join the coarse
   * tile), with work and output bounded by occupied pixels. Lets
   * resumable imports rebuild the (deterministic) map from per-batch
   * histogram artifacts without rescanning sources.
   */
  def partitionMapFromSparseHist(pixIn: Array[Long], cntIn: Array[Long],
                                 orderK: Int, threshold: Long): PartitionMap = {
    requireOrderK(orderK)
    require(pixIn.length == cntIn.length, "pix/cnt length mismatch")
    val order = pixIn.indices.sortBy(pixIn).toArray
    val pix = order.map(pixIn)
    val cnt = order.map(cntIn)
    val prefix = new Array[Long](pix.length + 1)
    var i = 0
    while (i < pix.length) { prefix(i + 1) = prefix(i) + cnt(i); i += 1 }
    def lowerBound(x: Long): Int = {
      var lo = 0; var hi = pix.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (pix(m) < x) lo = m + 1 else hi = m }
      lo
    }
    def rangeCount(lo: Long, hi: Long): Long = prefix(lowerBound(hi)) - prefix(lowerBound(lo))
    val starts = new scala.collection.mutable.ArrayBuffer[Long]
    val ords = new scala.collection.mutable.ArrayBuffer[Int]
    def walk(o: Int, p: Long): Unit = {
      val span = 1L << (2 * (orderK - o))
      val lo = p * span
      if (rangeCount(lo, lo + span) < threshold || o == orderK) { starts += lo; ords += o }
      else { var c = 0L; while (c < 4) { walk(o + 1, p * 4 + c); c += 1 } }
    }
    var b = 0L
    while (b < 12) { walk(0, b); b += 1 }
    PartitionMap(orderK, PartitionGrid(orderK, starts.toArray, ords.toArray), pix, cnt)
  }

  /**
   * Columns (Norder, Dir, Npix) for each row given a partition map
   * (Dir per [[CatalogFormat.dirOf]]). The map is broadcast via the
   * closure (bounded by occupied tiles).
   */
  def withPartitionColumns(df: DataFrame, raCol: String, decCol: String, pm: PartitionMap): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(pm.grid)
    // codegen kernel (PackedPartitionPixelExpr), NOT a Scala UDF: this
    // is the one expression every ingested row crosses, so it must
    // stay inside WholeStageCodegen (asserted in CatalogSpec)
    df.withColumn("__pp", graft.functions.native.packedPartitionPixel(col(raCol), col(decCol), pm.orderK, bc))
      .withColumn("Norder", shiftright(col("__pp"), 48).cast("int"))
      .withColumn("Dir", dirCol(col("__pp").bitwiseAND(lit(0xffffffffffffL))))
      .withColumn("Npix", col("__pp").bitwiseAND(lit(0xffffffffffffL)))
      .drop("__pp")
  }

  /**
   * Margin rows: (Norder, Dir, Npix) of every FOREIGN partition
   * pixel within `marginDeg` of the row — the reference's neighbor
   * cache semantics (rows near a pixel's border get replicated into
   * that pixel's neighbor file). By default the set is the
   * pixel-granular disc-cover SUPERSET; `exactMargin = true` trims
   * each candidate to the true boundary-distance band
   * (margin_utils.py:209/:307 semantics via Healpix.distToPixelDeg —
   * polar-aware with no projection special case), cutting neighbor
   * storage at coarse orders. Consumers exact-filter on match
   * distance either way, so stored-margin results are identical.
   */
  def marginRows(df: DataFrame, raCol: String, decCol: String, pm: PartitionMap, marginDeg: Double,
                 exactMargin: Boolean = false): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(pm.grid)
    // bounded explode of a codegen kernel (MarginPixelsExpr): packed
    // foreign partition pixels overlapping the margin disc, minus the
    // row's own pixel — no Scala UDF on the ingest path
    df.withColumn("__m", explode(graft.functions.native.marginPixels(
        col(raCol), col(decCol), pm.orderK, marginDeg, bc, exactMargin)))
      .withColumn("Norder", shiftright(col("__m"), 48).cast("int"))
      .withColumn("Npix", col("__m").bitwiseAND(lit(0xffffffffffffL)))
      .withColumn("Dir", dirCol(col("Npix")))
      .drop("__m")
  }

  /**
   * Full partitioned-catalog write: catalog/ + neighbor/ hive trees,
   * a `{cat}_meta.json` (reference: write_structure_metadata,
   * partitioner.py:350), and parquet `_metadata`/`_common_metadata`
   * summary sidecars per tree (partitioner.py:373, consumed by the
   * reference reader's read_parquet_metadata, lsd2_io.py:324).
   *
   * Scale note on the sidecars: they serialize every footer through
   * one writer — the reason Spark dropped summary-file support — so
   * graft itself NEVER reads them (the JSON partition map + hive
   * layout + footer stats carry the same information); they exist so
   * a reference-side reader pointed at a graft-written catalog finds
   * the files it expects. Emission cost is one recursive listing +
   * a pooled parallel footer read per tree.
   */
  def write(df: DataFrame, raCol: String, decCol: String, idCol: String,
            outputDir: String, catname: String,
            orderK: Int = 6, threshold: Long = 1000000L, marginDeg: Double = 0.1,
            exactMargin: Boolean = false): PartitionMap =
    writeWithMap(df, computePartitionMap(df, raCol, decCol, orderK, threshold),
      Meta(raCol, decCol, idCol, threshold, orderK, marginDeg), outputDir, catname, exactMargin)

  /** The write phases after the partition map is known — shared by
   *  [[write]] (map from a direct scan) and [[writeResumable]] (map
   *  from per-batch histogram artifacts). */
  private def writeWithMap(df: DataFrame, pm: PartitionMap, meta: Meta,
                           outputDir: String, catname: String,
                           exactMargin: Boolean = false): PartitionMap = {
    val spark = df.sparkSession
    val paths = Paths(outputDir, catname)
    val ids = NewIds(meta.raKw, meta.decKw, meta.idKw)
    writeTree(withPartitionColumns(df, meta.raKw, meta.decKw, pm), ids, paths.tree("catalog"), "overwrite")
    writeTree(marginRows(df, meta.raKw, meta.decKw, pm, meta.marginDeg, exactMargin), ids,
      paths.tree("neighbor"), "overwrite")
    treesChanged(spark, paths)

    // persist the order-k density histogram as a small parquet — the
    // data product behind the reference's visualize_* views
    // ({cat}_order10_hpmap.fits, lsd2_io.py:12,170) — straight from
    // the already-collected pm.hist: ZERO extra scans at write time.
    // Sparse (nonzero pixels only); readers treat missing pixels as 0.
    // Written twice: point_map is the CURRENT density (appends update
    // it); import_hist is the FROZEN import-time histogram from which
    // [[append]] deterministically rebuilds the partition map (the
    // map must never be recomputed from grown counts, or the layout
    // would drift from the directories already on disk).
    writeHist(spark, paths.pointMap, pm.histPix, pm.histCnt)
    writeHist(spark, paths.importHist, pm.histPix, pm.histCnt)
    writeMeta(spark, paths, meta, pm)
    pm
  }

  /**
   * Incremental append into an EXISTING catalog — the operation the
   * reference importer lacks (partitioner.py is one-shot; growing a
   * survey means re-importing everything). New rows are:
   *
   *  - assigned with the FROZEN import-time partition map
   *    (deterministically rebuilt from `import_hist.parquet` — never
   *    from current counts, which would drift the layout away from
   *    the directories already on disk);
   *  - written `mode(append)` as new parquet files inside the
   *    existing `catalog/` and `neighbor/` hive dirs (readers see
   *    extra files per partition, nothing is rewritten);
   *  - `_ID`-ranked CONTINUING each order-14 pixel's existing rank
   *    (per-tree offset join), so `_ID` stays unique and every file
   *    remains internally `_ID`-sorted;
   *  - folded into `point_map.parquet` (current density) and the
   *    meta JSON (n_sources, hips lists).
   *
   * The partition map is frozen, so pixels grow past the import
   * threshold as data accumulates — that is inherent to append (the
   * same trade the reference would face); when the returned map's
   * `hist` shows pixels far beyond threshold, re-import to re-split.
   *
   * Appends must be SERIALIZED (one writer at a time): the `_ID`
   * offsets are read from the current tree, so concurrent appends
   * would mint colliding ranks — the usual contract for file-based
   * tables without a transaction log. Note that append implicitly
   * runs [[recoverRepartition]] first, which DELETES any
   * `_repartition_stage/` debris: under the serialization contract
   * that debris can only be a crashed writer's, but an append racing
   * a LIVE repartition's staging phase would silently destroy the
   * in-flight rewrite (the repartition then fails on the missing
   * stage). Don't run them concurrently.
   */
  def append(df: DataFrame, raCol: String, decCol: String, idCol: String,
             outputDir: String, catname: String): PartitionMap = {
    val spark = df.sparkSession
    val paths = Paths(outputDir, catname)
    // complete any crashed repartition commit FIRST (writers
    // serialize, so a pending journal here means the writer died):
    // without this, rows appended under the stale import_hist land in
    // the journal's doomed split dirs and the eventual roll-forward
    // would delete them — the one write path that could lose data
    recoverRepartition(spark, outputDir, catname)
    // drop any stale cached listing BEFORE reading rank offsets — a
    // listing cached before an external writer's files landed would
    // mint colliding _IDs
    Trees.foreach(t => spark.catalog.refreshByPath(paths.tree(t)))
    val meta = readMeta(spark, paths)
    val frozen = frozenMap(spark, paths, meta)
    val (cPix, cCnt) = readHist(spark, paths.pointMap)
    val merged = scala.collection.mutable.LongMap.from(cPix.zip(cCnt))
    pixelHistogram(df, raCol, decCol, meta.orderK).collect()
      .foreach(r => merged(r.getLong(0)) = merged.getOrElse(r.getLong(0), 0L) + r.getLong(1))

    def continuing(existing: DataFrame) = NewIds(raCol, decCol, idCol, Some(existing))
    writeTree(withPartitionColumns(df, raCol, decCol, frozen),
      continuing(HipsCatalog.load(spark, outputDir, catname)), paths.tree("catalog"), "append")
    writeTree(marginRows(df, raCol, decCol, frozen, meta.marginDeg),
      continuing(HipsCatalog.loadNeighbors(spark, outputDir, catname)), paths.tree("neighbor"), "append")
    // the session FileStatusCache still holds the PRE-append listings
    // of partition dirs that already existed — without invalidation a
    // same-session reader sees only the old files of old dirs (new
    // dirs list fresh), silently dropping appended rows; the
    // refreshed sidecars let the reference reader see appended files
    treesChanged(spark, paths)

    val mPix = merged.keysIterator.toArray.sorted
    val out = PartitionMap(meta.orderK, frozen.grid, mPix, mPix.map(merged))
    writeHist(spark, paths.pointMap, out.histPix, out.histCnt)
    writeMeta(spark, paths, meta, out)
    out
  }

  /** Sorted-array lower bound (first index with a(i) >= x). */
  private def lowerBoundIn(a: Array[Long], x: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < x) lo = m + 1 else hi = m }
    lo
  }

  /**
   * Re-split an EXISTING catalog whose pixels have grown past the
   * import threshold through [[append]]s — the lifecycle gap of the
   * frozen append-time partition map (the reference's only answer is
   * a full re-import; partitioner.py is one-shot). Re-walks the
   * ACCUMULATED histogram (point_map) and rewrites ONLY tiles whose
   * assignment changed: counts only grow under append, so the new
   * map strictly REFINES the frozen one (a tile is emitted at the
   * first order whose subtree count drops under the threshold, and
   * growing counts can only push that deeper) — intact tiles keep
   * their files byte-identical, and the rewrite cost is bounded by
   * the over-threshold data, never the catalog.
   *
   *  - split tiles' catalog rows are re-bucketed under the new grid
   *    with `_ID`s PRESERVED (`_ID` depends only on the order-14
   *    pixel and the import-time rank — partitioning never enters it);
   *  - split tiles' neighbor files are rebuilt: sources are each
   *    tile's own rows (new INTERNAL borders between sibling
   *    sub-tiles) plus its previous neighbor rows (any external row
   *    within marginDeg of a sub-tile was within marginDeg of the
   *    parent, so the old neighbor file is a complete external
   *    source superset); targets are restricted to the split regions
   *    — margin entries into unchanged tiles are untouched and stay
   *    correct (a row's entry into a foreign unchanged tile does not
   *    depend on how the row's own region is tiled);
   *  - import_hist re-freezes to the accumulated histogram so future
   *    [[append]]s assign under the REFINED layout; meta refreshes.
   *
   * Serialize with other writers (the [[append]] contract). Readers
   * stay safe throughout — and so does a WRITER CRASH at any point:
   *
   *  - rewritten sub-tiles are staged under `_repartition_stage/`
   *    (invisible to readers), then a journal listing the staged
   *    sub-tile dirs and the doomed old dirs is committed via
   *    write-temp + atomic rename — that rename is the commit point;
   *  - a crash BEFORE the commit point leaves the old dirs untouched
   *    and authoritative (the stage tree is discarded debris);
   *  - a crash AFTER it is rolled FORWARD by [[recoverRepartition]]
   *    (also run automatically at the next [[repartition]]): the
   *    commit steps — rename staged dirs in, delete old dirs,
   *    re-freeze import_hist, refresh meta, drop the journal — are
   *    each idempotent, so replaying them completes the rewrite;
   *  - a concurrent reader during the commit window sees transient
   *    duplicates rather than a gap (new sub-tile dirs land before
   *    their old dir is deleted); [[HipsCatalog.load]] warns loudly
   *    when a journal is present so a crashed writer's lingering
   *    duplicates are detected rather than silently double-counted.
   */
  def repartition(spark: SparkSession, outputDir: String, catname: String,
                  exactMargin: Boolean = false): PartitionMap = {
    val paths = Paths(outputDir, catname)
    val fsys = fs(spark, paths.base)
    // complete any crashed prior commit / discard pre-commit debris
    // BEFORE reading layout state — the repaired tree is the basis
    recoverRepartition(spark, outputDir, catname)
    val meta = readMeta(spark, paths)
    val Meta(raCol, decCol, idCol, threshold, orderK, marginDeg) = meta

    spark.catalog.refreshByPath(paths.tree("catalog"))
    val (phPix, phCnt) = readHist(spark, paths.pointMap)
    val newMap = partitionMapFromSparseHist(phPix, phCnt, orderK, threshold)
    val oldMap = frozenMap(spark, paths, meta)

    // occupied frozen tiles whose region the new walk subdivides
    val split = oldMap.pixelsAtOrders.toSeq
      .flatMap { case (o, ps) => ps.map(p => (o, p)) }
      .filter { case (o, p) =>
        val span = 1L << (2 * (orderK - o))
        val lo = p * span
        var i = lowerBoundIn(phPix, lo)
        var changed = false
        while (i < phPix.length && phPix(i) < lo + span) {
          val no = newMap.grid.order(phPix(i))
          require(no >= o, s"repartition: new map would COARSEN tile ($o, $p) — the " +
            "accumulated histogram shrank below import_hist; counts must only grow under append")
          if (no != o) changed = true
          i += 1
        }
        changed
      }
    if (split.isEmpty) return PartitionMap(orderK, oldMap.grid, phPix, phCnt)

    def existing(tree: String): Seq[String] =
      split.map { case (o, p) => tilePath(paths.tree(tree), o, p) }
        .filter(p => fsys.exists(new Path(p)))

    val catPaths = existing("catalog")
    require(catPaths.nonEmpty,
      s"repartition: none of the ${split.length} split tiles have catalog dirs — " +
        s"split=${split.take(5)}, probe=${split.headOption.map { case (o, p) => tilePath(paths.tree("catalog"), o, p) }}")
    // parquet re-reads surface every column nullable, but `_ID` was
    // written non-nullable (withSpatialId) — restore that in the
    // rewrite's schema (coalesce against a literal is non-nullable by
    // construction and never fires: _ID has no nulls) or the summary
    // sidecar's footer merge rejects the mixed row metadata
    val oldCat = spark.read.parquet(catPaths: _*)
      .withColumn("_ID", coalesce(col("_ID"), lit(Long.MinValue)))
    val nbrPaths = existing("neighbor")
    val oldNbr =
      if (nbrPaths.nonEmpty) spark.read.parquet(nbrPaths: _*) else oldCat.limit(0)

    // 1) STAGE the re-bucketed split-tile catalog rows, _ID preserved
    //    (invisible to readers until the journal commits)
    writeTree(withPartitionColumns(oldCat, raCol, decCol, newMap), KeepIds,
      s"${paths.stage}/catalog", "overwrite")

    // 2) STAGE rebuilt margin entries TARGETING the split regions only;
    //    a source row appearing both as a home row and as a replica in
    //    another split tile's old neighbor file collapses in distinct
    val sources = oldCat.drop("_ID").unionByName(oldNbr.drop("_ID")).distinct()
    val sess = spark
    import sess.implicits._
    val splitDf = split.toDF("o_s", "p_s")
    val restricted = marginRows(sources, raCol, decCol, newMap, marginDeg, exactMargin)
      .join(broadcast(splitDf),
        expr("Norder >= o_s AND shiftright(Npix, 2 * (Norder - o_s)) = p_s"), "left_semi")
    // rank offsets read the CURRENT tree (doomed dirs included — the
    // resulting rank gaps are harmless; uniqueness is the contract)
    writeTree(restricted,
      NewIds(raCol, decCol, idCol, Some(HipsCatalog.loadNeighbors(spark, outputDir, catname))),
      s"${paths.stage}/neighbor", "overwrite")

    // COMMIT POINT: journal the staged sub-tile dirs + doomed old dirs,
    // made visible atomically via temp-write + rename. Before this
    // rename a crash leaves the old layout authoritative; after it the
    // rewrite always completes (here or in recoverRepartition).
    val staged = Trees.flatMap(t => tiles(spark, s"${paths.stage}/$t").map { case (o, p) => (t, o, p) })
    val journal =
      s"""{"split": [${split.map { case (o, p) => s"[$o,$p]" }.mkString(",")}],
         | "staged": [${staged.map { case (t, o, p) => s"""["$t",$o,$p]""" }.mkString(",")}]}""".stripMargin
    writeString(spark, s"${paths.journal}.tmp", journal)
    require(fsys.rename(new Path(s"${paths.journal}.tmp"), new Path(paths.journal)),
      s"repartition: journal rename failed at ${paths.journal}")

    // 3+4) rename staged dirs in, drop old dirs, re-freeze, drop journal
    commitRepartition(spark, outputDir, catname)
  }

  /**
   * Detect-and-repair for a crashed [[repartition]]. If the commit
   * journal is present, the crash happened AFTER the commit point —
   * roll the rewrite FORWARD by replaying the (idempotent) commit
   * steps. Any journal-less stage debris is from a crash BEFORE the
   * commit point — the old dirs are untouched and authoritative, so
   * the debris is discarded. Returns true iff a pending commit was
   * found and completed. Run automatically at the start of every
   * [[repartition]]; callers seeing [[HipsCatalog.load]]'s journal
   * warning should invoke this directly.
   */
  def recoverRepartition(spark: SparkSession, outputDir: String, catname: String): Boolean = {
    val paths = Paths(outputDir, catname)
    val fsys = fs(spark, paths.base)
    val pending = fsys.exists(new Path(paths.journal))
    if (pending) commitRepartition(spark, outputDir, catname)
    fsys.delete(new Path(paths.stage), true)
    fsys.delete(new Path(s"${paths.journal}.tmp"), false)
    pending
  }

  /**
   * The idempotent back half of [[repartition]], driven entirely by
   * the committed journal + on-disk state so a crash at ANY point is
   * repaired by re-running it: per staged sub-tile dir, (re-)rename it
   * into the live tree (a destination left by a previous half-finished
   * attempt can only be this same rename's output, so it is replaced);
   * delete the superseded old dirs; re-freeze import_hist from the
   * accumulated histogram (writers serialize, so point_map is exactly
   * the basis that produced the staged layout); refresh meta; and only
   * then drop the journal + stage tree. Older journals also carry a
   * `summary_files` flag; it is ignored, the sidecars are always
   * rewritten.
   */
  private def commitRepartition(spark: SparkSession, outputDir: String,
                                catname: String): PartitionMap = {
    val paths = Paths(outputDir, catname)
    val fsys = fs(spark, paths.base)
    val j = readString(spark, paths.journal)
    // each section is one line; greedy .* + final \] captures the whole
    // array body (inner ]s included) up to the outer closing bracket
    def section(key: String): String =
      s""""$key":\\s*\\[(.*)\\]""".r.findFirstMatchIn(j)
        .getOrElse(throw new IllegalStateException(s"repartition journal missing $key"))
        .group(1)
    val split = """\[(\d+),(\d+)\]""".r.findAllMatchIn(section("split"))
      .map(m => (m.group(1).toInt, m.group(2).toLong)).toSeq
    val staged = """\["(\w+)",(\d+),(\d+)\]""".r.findAllMatchIn(section("staged"))
      .map(m => (m.group(1), m.group(2).toInt, m.group(3).toLong)).toSeq

    staged.foreach { case (tree, o, p) =>
      val src = new Path(tilePath(s"${paths.stage}/$tree", o, p))
      val dst = new Path(tilePath(paths.tree(tree), o, p))
      if (fsys.exists(src)) {
        if (fsys.exists(dst)) fsys.delete(dst, true)
        fsys.mkdirs(dst.getParent)
        require(fsys.rename(src, dst), s"repartition commit: rename $src -> $dst failed")
      }
    }
    split.foreach { case (o, p) =>
      Trees.foreach(t => fsys.delete(new Path(tilePath(paths.tree(t), o, p)), true))
    }
    treesChanged(spark, paths)

    val meta = readMeta(spark, paths)
    spark.catalog.refreshByPath(paths.pointMap)
    val (phPix, phCnt) = readHist(spark, paths.pointMap)
    val out = partitionMapFromSparseHist(phPix, phCnt, meta.orderK, meta.threshold)
    writeHist(spark, paths.importHist, phPix, phCnt)
    writeMeta(spark, paths, meta, out)
    fsys.delete(new Path(paths.journal), false)
    fsys.delete(new Path(paths.stage), true)
    out
  }

  /**
   * Resumable import — the reference partitioner's per-URL cache
   * machinery (partitioner.py:27,66) re-expressed Spark-first. A
   * failed import resumes from the last completed batch instead of
   * re-reading and re-parsing every source file:
   *
   *  - per input batch, ONE parse pass writes (a) the rows to
   *    `_import/stage/batch=N` and (b) the order-k pixel histogram to
   *    `_import/hist/batch=N`; Spark's atomic job commit (`_SUCCESS`)
   *    is the completion marker, so a re-run skips finished batches
   *    (csv/FITS parsing is the expensive part at catalog scale).
   *  - the partition map is rebuilt deterministically by summing the
   *    per-batch histograms (associative — identical to a direct
   *    full-scan histogram), then the final catalog/ + neighbor/ +
   *    meta write runs once over the columnar staging (itself an
   *    atomic overwrite: a phase-2 failure just reruns phase 2).
   *
   * The staging is kept after the import, so a later re-run is again
   * a resume. Output is row-identical (including `_ID`) to a
   * single-shot [[write]] of the concatenated batches — asserted in
   * ScalaTest.
   */
  def writeResumable(spark: SparkSession, batches: Seq[Seq[String]],
                     readBatch: Seq[String] => DataFrame,
                     raCol: String, decCol: String, idCol: String,
                     outputDir: String, catname: String,
                     orderK: Int = 6, threshold: Long = 1000000L,
                     marginDeg: Double = 0.1): PartitionMap = {
    requireOrderK(orderK)
    val importDir = s"${Paths(outputDir, catname).base}/_import"
    val fsys = fs(spark, importDir)
    def done(dir: String) = fsys.exists(new Path(s"$dir/_SUCCESS"))

    def stageDir(i: Int) = s"$importDir/stage/batch=$i"
    def histDir(i: Int) = s"$importDir/hist/batch=$i"

    // a resume with a DIFFERENT batch list — or sources regenerated
    // under the same paths — would silently mix stale staged data into
    // the new import. Pin path + size + mtime per source file in a
    // manifest on the first attempt. The PATH list must always match;
    // size/mtime are validated only for batches whose staging is
    // incomplete (those re-read their sources) — a COMPLETED batch's
    // staging is the source of truth, so its sources may be archived,
    // moved or touched without blocking the resume.
    def fileSig(p: String): String =
      try {
        val st = fs(spark, p).getFileStatus(new Path(p))
        s"$p\u0001${st.getLen}:${st.getModificationTime}"
      } catch { case _: Exception => p } // non-stattable source: path-only pin
    def sigPath(sig: String): String = {
      val k = sig.indexOf('\u0001'); if (k < 0) sig else sig.substring(0, k)
    }
    val current = batches.map(_.map(fileSig))
    val manifestPath = s"$importDir/manifest.txt"
    if (fsys.exists(new Path(manifestPath))) {
      val prev = readString(spark, manifestPath)
        .split("\n", -1).toSeq.map(_.split("\u0000", -1).toSeq)
      require(prev.length == current.length &&
        prev.zip(current).forall { case (pv, cu) => pv.map(sigPath) == cu.map(sigPath) },
        s"resumable import found staging for a DIFFERENT batch list under $importDir — " +
          "delete the _import directory to start over")
      batches.indices.foreach { i =>
        // gate on the STAGE marker only: a batch whose staging completed
        // but whose histogram is missing recomputes the histogram from
        // the staged bytes and never re-reads its sources — archiving or
        // touching them after staging must not block the resume
        if (!done(stageDir(i)))
          require(prev(i) == current(i),
            s"resumable import: sources of UNSTAGED batch $i changed (sizes or mtimes) since " +
              s"staging began — re-run with the original files, or delete $importDir to start over")
      }
    } else writeString(spark, manifestPath, current.map(_.mkString("\u0000")).mkString("\n"))

    batches.indices.foreach { i =>
      val stage = stageDir(i)
      val hist = histDir(i)
      if (!done(stage)) readBatch(batches(i)).write.mode("overwrite").parquet(stage)
      // histogram from the STAGED bytes (not the source) so the map
      // always matches what phase 2 will actually read
      if (!done(hist))
        pixelHistogram(spark.read.parquet(stage), raCol, decCol, orderK)
          .coalesce(1).write.mode("overwrite").parquet(hist)
    }

    val histRows = spark.read.parquet(batches.indices.map(histDir): _*)
      .groupBy("pix").agg(sum("cnt").as("cnt"))
      .collect()
    val pm = partitionMapFromSparseHist(
      histRows.map(_.getLong(0)), histRows.map(_.getLong(1)), orderK, threshold)

    val staged = spark.read.parquet(batches.indices.map(stageDir): _*)
    writeWithMap(staged, pm, Meta(raCol, decCol, idCol, threshold, orderK, marginDeg), outputDir, catname)
  }
}

/**
 * Reader for a graft/HiPSCat-style partitioned catalog
 * (reference: hipscat/catalog.py Catalog.load + cone_search pruning).
 */
object HipsCatalog {

  /** Load the full catalog dataframe (hive partition columns included).
   *  A lingering repartition journal means a writer crashed mid-commit
   *  (old + new sub-tile dirs may BOTH be visible = duplicate rows) —
   *  warn loudly and point at the repair path rather than silently
   *  double-counting; an ACTIVE repartition's commit window triggers
   *  the same warning, which is the documented transient-duplicates
   *  read behavior. */
  def load(spark: SparkSession, outputDir: String, catname: String): DataFrame = {
    val paths = Paths(outputDir, catname)
    val jp = paths.journal
    if (fs(spark, jp).exists(new Path(jp)))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"catalog $catname has a pending repartition commit ($jp): rows in split tiles " +
          "may appear twice until the commit finishes — if no repartition is running, " +
          "a writer crashed; run HipsPartitioner.recoverRepartition to roll it forward")
    spark.read.parquet(paths.tree("catalog"))
  }

  /** Load the neighbor (margin) tree; empty DF with catalog schema if absent. */
  def loadNeighbors(spark: SparkSession, outputDir: String, catname: String): DataFrame = {
    val p = Paths(outputDir, catname).tree("neighbor")
    if (fs(spark, p).exists(new Path(p))) spark.read.parquet(p)
    else load(spark, outputDir, catname).limit(0)
  }

  /**
   * Partition grid of a written catalog (SPARSE tiling, see
   * [[graft.functions.PartitionGrid]]), reconstructed from the hive
   * directory structure — catalog/ AND neighbor/ trees, so sky
   * regions that hold only margin replicas (empty home pixel,
   * populated border) still resolve. Regions with no files at all
   * become -1 gap tiles (no partition). Bounded by directory count.
   */
  def partitionGrid(spark: SparkSession, outputDir: String, catname: String, orderK: Int): PartitionGrid = {
    val paths = Paths(outputDir, catname)
    val tiles = Trees.flatMap(t => CatalogFormat.tiles(spark, paths.tree(t)))
      .map { case (o, p) => (p << (2 * (orderK - o)), o) }
    PartitionGrid.fromTiles(orderK, tiles)
  }

  /**
   * Catalog-level kNN cross-match consuming the PERSISTED margin
   * cache — the reference's stored-neighbor semantics
   * (catalog.py:144 cross_match + dask_utils.py:367): per right-
   * catalog partition pixel, candidates are that pixel's catalog
   * rows plus its neighbor-file rows; left rows are assigned to the
   * right catalog's partition pixel containing them (the hierarchy
   * alignment of util.map_catalog_hips, as one equi-join key).
   * No per-row disc cover at query time — that work was done once
   * at write time. Like the reference, matches beyond the stored
   * margin radius are not found: choose marginDeg >= dthresh at
   * write time for exactness (asserted in ScalaTest).
   */
  def crossMatchStored(spark: SparkSession, outputDir: String,
                       leftCat: String, rightCat: String,
                       leftRa: String, leftDec: String, leftId: String,
                       rightRa: String, rightDec: String, rightId: String,
                       k: Int, dthreshDeg: Double, orderK: Int,
                       rightPrefix: String = "r_", leftPrefix: String = "",
                       leftCols: Seq[String] = Nil, rightCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.{sphere, PartitionGrid}

    // assign each left row to the RIGHT catalog's partition pixel —
    // codegen kernel over the broadcast grid (was a Scala UDF in r1).
    // The join key is the PACKED (order << 48 | pix) value: a bare
    // pixel number is ambiguous across orders in an adaptive map
    // ((2, 5) and (3, 5) can coexist), packing removes the hazard.
    val bc = spark.sparkContext.broadcast(partitionGrid(spark, outputDir, rightCat, orderK))
    // column selection is applied BEFORE the join, on both stored
    // sides, so the pruning reaches the parquet scans (ReadSchema) —
    // ra/dec/id are always kept (util.py:276 validate_user_input_cols)
    // left hive partition columns (Norder/Dir/Npix) are dropped before
    // prefixing, mirroring prep() on the right — otherwise an unpruned
    // call leaks `{cat}.Norder` etc. asymmetrically into the output
    val l0 = load(spark, outputDir, leftCat).drop("Norder", "Dir", "Npix")
    val lSel =
      if (leftCols.isEmpty) l0
      else l0.select((leftCols ++ Seq(leftRa, leftDec, leftId)).distinct.map(col): _*)
    val lm0 = lSel.withColumn("__jpix", graft.functions.native.packedPartitionPixel(
      col(leftRa), col(leftDec), orderK, bc))
    val lm = lm0.columns.filterNot(_ == "__jpix")
      .foldLeft(lm0)((d, c) => d.withColumnRenamed(c, leftPrefix + c))

    def prep(df: DataFrame): DataFrame = {
      val sel =
        if (rightCols.isEmpty) df
        else df.select((rightCols ++ Seq(rightRa, rightDec, rightId, "Norder", "Dir", "Npix"))
          .distinct.map(col): _*)
      val cols = sel.columns.filterNot(Seq("Norder", "Dir", "Npix").contains)
      sel.select((cols.map(col) :+
        shiftleft(col("Norder").cast("long"), 48).bitwiseOR(col("Npix")).as("__jpix")): _*)
    }
    // right candidates per pixel: home rows + stored margin replicas
    val r0 = prep(load(spark, outputDir, rightCat))
      .unionByName(prep(loadNeighbors(spark, outputDir, rightCat)))
    val rp = r0.columns.filterNot(_ == "__jpix").foldLeft(r0)((d, c) => d.withColumnRenamed(c, rightPrefix + c))

    // prefixed names may contain '.' (the reference's delim), which
    // col() would parse as struct access — backtick-quote them
    def qc(name: String) = col("`" + name + "`")
    val joined = lm.join(rp, "__jpix")
      .withColumn("_DIST", sphere.gcDist(qc(leftPrefix + leftRa), qc(leftPrefix + leftDec),
        qc(rightPrefix + rightRa), qc(rightPrefix + rightDec)))
      .filter(col("_DIST") < dthreshDeg)
    val w = Window.partitionBy(qc(leftPrefix + leftId))
      .orderBy(round(col("_DIST"), 9).asc, qc(rightPrefix + rightId).asc)
    joined.withColumn("_RANK", row_number().over(w)).filter(col("_RANK") <= k)
      // match-partition provenance, as in the in-flight crossMatchKnn
      // and the reference output (catalog.py:232 hips_k/hips_pix)
      .withColumn("hips_k", shiftright(col("__jpix"), 48).cast("int"))
      .withColumn("hips_pix", col("__jpix").bitwiseAND(lit(0xffffffffffffL)))
      .drop("__jpix")
  }

  /** The pruning machinery shared by every stored-catalog search:
   *  column-pruned scan restricted to partitions overlapping the
   *  bounding cone.
   *
   *  The disc cover is computed at an ADAPTIVE order: the finest
   *  order <= orderK whose expected cover stays <= ~8k pixels, so a
   *  wide query (a full-RA dec band gives a 180-deg bounding cone)
   *  cannot blow up the driver-side candidate list no matter how
   *  fine the catalog's partition order is. A partition at order o
   *  overlaps the disc iff its coverOrder-aligned pixel does:
   *  ancestors for o <= coverOrder (InSet on rebinned cover),
   *  descendants via a constant shift for o > coverOrder — one small
   *  InSet per order, all over partition columns, so file-level
   *  pruning still applies. Coarsening only loses selectivity, never
   *  rows. */
  private def prunedScan(spark: SparkSession, outputDir: String, catname: String,
                         raDeg: Double, decDeg: Double, radiusDeg: Double, orderK: Int,
                         columns: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val discFrac = (1 - math.cos(math.toRadians(math.min(radiusDeg, 180.0)))) / 2
    val coverOrder = (0 to orderK).reverse
      .find(o => discFrac * Healpix.npix(o) <= 8192 || o == 0).getOrElse(0)
    val cover = Healpix.queryDiscCover(coverOrder, raDeg, decDeg, radiusDeg)
    val coverBoxed = cover.map(Long.box).toSeq
    val pred = (0 to orderK).map { o =>
      if (o <= coverOrder) {
        val anc = cover.map(_ >> (2 * (coverOrder - o))).distinct.map(Long.box).toSeq
        col("Norder") === o && col("Npix").isin(anc: _*)
      } else
        col("Norder") === o && shiftright(col("Npix"), 2 * (o - coverOrder)).isin(coverBoxed: _*)
    }.reduce(_ || _)
    val df = load(spark, outputDir, catname)
    // user column selection BEFORE any predicate so the pruning
    // reaches the parquet scan (caller guarantees ra/dec present;
    // Catalog.* appends ra/dec/id per the reference contract)
    val sel = if (columns.isEmpty) df
      else df.select((columns ++ Seq("Norder", "Npix")).distinct.map(col): _*)
    sel.filter(pred)
  }

  /** The hive columns were only needed for the partition filter — if
   *  the user picked columns and didn't ask for them, drop them. */
  private def dropHive(df: DataFrame, columns: Seq[String]): DataFrame =
    Seq("Norder", "Npix").filterNot(c => columns.isEmpty || columns.contains(c))
      .foldLeft(df)(_.drop(_))

  /**
   * Cone search with *file-level* pruning: the hive partition filter
   * on (Norder, Npix) restricts the scan to overlapping partitions
   * before any row is read (catalog.py:65 semantics).
   */
  def coneSearch(spark: SparkSession, outputDir: String, catname: String,
                 raCol: String, decCol: String,
                 raDeg: Double, decDeg: Double, radiusDeg: Double, orderK: Int,
                 columns: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions._
    val filtered = prunedScan(spark, outputDir, catname, raDeg, decDeg, radiusDeg, orderK, columns)
      .withColumn("_DIST", graft.functions.sphere.gcDist(col(raCol), col(decCol), lit(raDeg), lit(decDeg)))
      .filter(col("_DIST") < radiusDeg)
    dropHive(filtered, columns)
  }

  /** Stored-path box search: partition pruning via the box's provable
   *  bounding cone, then the exact wrap-aware range predicate. */
  def boxSearch(spark: SparkSession, outputDir: String, catname: String,
                raCol: String, decCol: String,
                raLo: Double, raHi: Double, decLo: Double, decHi: Double, orderK: Int,
                columns: Seq[String] = Nil): DataFrame = {
    val ((cra, cdec), radius) = graft.operators.Spatial.boxBoundingCone(raLo, raHi, decLo, decHi)
    dropHive(graft.operators.Spatial.boxSearch(
      prunedScan(spark, outputDir, catname, cra, cdec, radius, orderK, columns),
      raCol, decCol, raLo, raHi, decLo, decHi), columns)
  }

  /** Stored-path convex polygon search: partition pruning via the
   *  polygon's bounding cone, then the exact gnomonic half-plane test. */
  def polygonSearch(spark: SparkSession, outputDir: String, catname: String,
                    raCol: String, decCol: String,
                    vertices: Seq[(Double, Double)], orderK: Int,
                    columns: Seq[String] = Nil): DataFrame = {
    val ((cra, cdec), radius, inside) =
      graft.operators.Spatial.polygonPredicate(raCol, decCol, vertices)
    dropHive(prunedScan(spark, outputDir, catname, cra, cdec, radius, orderK, columns)
      .filter(inside), columns)
  }
}
