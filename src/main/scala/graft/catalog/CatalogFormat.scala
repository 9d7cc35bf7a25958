package graft.catalog

import graft.catalog.HipsPartitioner.PartitionMap
import graft.functions.sphere
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The on-disk format of a stored catalog, owned in one place. Catalog
 * `cat` under `location` is the directory `location/cat` holding:
 *
 *  - `catalog/` (home rows) and `neighbor/` (margin replicas): hive
 *    parquet trees `Norder=K/Dir=D/Npix=P/` whose files are each
 *    `_ID`-ascending, with parquet `_metadata`/`_common_metadata`
 *    summary sidecars per tree;
 *  - `point_map.parquet` (the current order-k density) and
 *    `import_hist.parquet` (the frozen histogram the partition map is
 *    rebuilt from), both sparse `(pix, cnt)`;
 *  - `{cat}_meta.json`, the reference's key set ([[Meta]]);
 *  - `_repartition_journal.json` + `_repartition_stage/` while a
 *    repartition commits.
 *
 * Every reader and writer of the package goes through these functions.
 * All filesystem access uses the Hadoop FileSystem API, so catalogs on
 * HDFS/S3 behave identically to local ones.
 */
object CatalogFormat {

  /** The two hive trees of a catalog. */
  val Trees: Seq[String] = Seq("catalog", "neighbor")

  /** The file and directory names of one stored catalog. */
  final case class Paths(location: String, catname: String) {
    val base: String = s"$location/$catname"
    def tree(name: String): String = s"$base/$name"
    def meta: String = s"$base/${catname}_meta.json"
    def pointMap: String = s"$base/point_map.parquet"
    def importHist: String = s"$base/import_hist.parquet"
    def journal: String = s"$base/_repartition_journal.json"
    def stage: String = s"$base/_repartition_stage"
  }

  private[catalog] def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[catalog] def writeString(spark: SparkSession, path: String, content: String): Unit = {
    val out = fs(spark, path).create(new Path(path), true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private[catalog] def readString(spark: SparkSession, path: String): String = {
    val in = fs(spark, path).open(new Path(path))
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  // ---- tile naming ----

  /** Dir = floor(Npix / 10000) * 10000 — the hipscat layout intent.
   *  (The reference's float expression `(pix / 10_000) * 10_000`
   *  evaluates to pix itself, dask_utils.py:123; we implement the
   *  intended integer bucketing.) */
  private[catalog] def dirOf(npix: Long): Long = npix / 10000L * 10000L
  private[catalog] def dirCol(npix: Column): Column = (npix / 10000L).cast("long") * 10000L

  private[catalog] def tilePath(treeRoot: String, order: Int, npix: Long): String =
    s"$treeRoot/Norder=$order/Dir=${dirOf(npix)}/Npix=$npix"

  /** (order, pixel) of every tile directory under a tree root; empty
   *  when the tree does not exist. Bounded by directory count. */
  private[catalog] def tiles(spark: SparkSession, treeRoot: String): Seq[(Int, Long)] = {
    val root = new Path(treeRoot)
    val f = fs(spark, treeRoot)
    if (!f.exists(root)) Nil
    else for {
      od <- f.listStatus(root).toSeq
      if od.getPath.getName.startsWith("Norder=")
      o = od.getPath.getName.stripPrefix("Norder=").toInt
      dd <- f.listStatus(od.getPath).toSeq
      pd <- f.listStatus(dd.getPath).toSeq
      if pd.getPath.getName.startsWith("Npix=")
    } yield (o, pd.getPath.getName.stripPrefix("Npix=").toLong)
  }

  // ---- metadata JSON ----

  /** The layout-defining fields of `{cat}_meta.json`. Its `cat_name` is
   *  the directory name, and `n_sources`/`hips` are derived from the
   *  partition map at each write; none of them is read back. */
  final case class Meta(raKw: String, decKw: String, idKw: String,
                        threshold: Long, orderK: Int, marginDeg: Double)

  /** Metadata JSON with the reference's key set ({cat}_meta.json,
   *  partitioner.py:350 write_structure_metadata) so downstream
   *  hipscat tooling can read the layout; counts come from the
   *  already-computed histogram (no extra scan), hips lists only
   *  pixels that actually hold data. */
  private[catalog] def writeMeta(spark: SparkSession, paths: Paths, meta: Meta, pm: PartitionMap): Unit = {
    val hips = pm.pixelsAtOrders.toSeq.sortBy(_._1)
      .map { case (o, ps) => s""""$o": [${ps.mkString(",")}]""" }.mkString("{", ",", "}")
    writeString(spark, paths.meta,
      s"""{"cat_name": "${paths.catname}", "ra_kw": "${meta.raKw}", "dec_kw": "${meta.decKw}", "id_kw": "${meta.idKw}",
         | "n_sources": ${pm.nSources}, "pix_threshold": ${meta.threshold}, "order_k": ${meta.orderK},
         | "margin_deg": ${meta.marginDeg}, "hips": $hips}""".stripMargin)
  }

  def readMeta(spark: SparkSession, paths: Paths): Meta = {
    // flat string/number fields; numbers are exponent-aware, since a
    // small margin (1 arcsec) is written as 2.77...E-4
    val fields = """"(\w+)":\s*(?:"([^"]*)"|([-+\d.eE]+))""".r
      .findAllMatchIn(readString(spark, paths.meta))
      .map(m => m.group(1) -> Option(m.group(2)).getOrElse(m.group(3))).toMap
    def field(key: String): String = fields.getOrElse(key,
      throw new IllegalArgumentException(s"$key missing from ${paths.meta}"))
    Meta(field("ra_kw"), field("dec_kw"), field("id_kw"),
      field("pix_threshold").toLong, field("order_k").toInt, field("margin_deg").toDouble)
  }

  // ---- histograms ----

  /** One `(pix, cnt)` row per occupied order-k pixel (map-side combined). */
  private[catalog] def pixelHistogram(df: DataFrame, raCol: String, decCol: String, orderK: Int): DataFrame =
    df.groupBy(sphere.hpix(col(raCol), col(decCol), orderK).as("pix"))
      .agg(count(lit(1)).as("cnt"))

  /** Overwrites a sparse histogram file, then drops cached listings of
   *  it: the overwrite deleted the old part file. */
  private[catalog] def writeHist(spark: SparkSession, path: String, pix: Array[Long], cnt: Array[Long]): Unit = {
    import spark.implicits._
    pix.zip(cnt).toSeq.toDF("pix", "cnt").coalesce(1).write.mode("overwrite").parquet(path)
    spark.catalog.refreshByPath(path)
  }

  /** A sparse histogram file as (pix, cnt) arrays, ascending by pix. */
  def readHist(spark: SparkSession, path: String): (Array[Long], Array[Long]) = {
    val rows = spark.read.parquet(path).collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    (rows.map(_._1), rows.map(_._2))
  }

  /** The partition map the directories on disk were laid out with,
   *  rebuilt from the frozen `import_hist` (never from current counts,
   *  which would drift from the written layout). */
  private[catalog] def frozenMap(spark: SparkSession, paths: Paths, meta: Meta): PartitionMap = {
    val (pix, cnt) = readHist(spark, paths.importHist)
    HipsPartitioner.partitionMapFromSparseHist(pix, cnt, meta.orderK, meta.threshold)
  }

  // ---- hive trees ----

  /** How a tree write sets `_ID`. */
  private[catalog] sealed trait Ids
  /** Keep each row's `_ID` (a re-bucketing rewrite). */
  private[catalog] case object KeepIds extends Ids
  /** Rank fresh `_ID`s; with `continueFrom`, each order-14 pixel's
   *  ranks start after its largest rank in that tree. */
  private[catalog] final case class NewIds(raCol: String, decCol: String, idCol: String,
                          continueFrom: Option[DataFrame] = None) extends Ids

  /**
   * Writes rows carrying (Norder, Dir, Npix) as a hive tree: one
   * repartition by tile, `_ID`s per `ids`, and a sort that puts the
   * hive partition columns FIRST so FileFormatWriter's required
   * ordering is already satisfied (no writer-inserted,
   * stability-unspecified sort) and each written file stays
   * `_ID`-ascending.
   */
  private[catalog] def writeTree(rows: DataFrame, ids: Ids, path: String, mode: String): Unit = {
    val byTile = rows.repartition(col("Norder"), col("Npix"))
    val ranked = ids match {
      case KeepIds => byTile
      case NewIds(ra, dec, id, None) => withSpatialId(byTile, ra, dec, id)
      case NewIds(ra, dec, id, Some(existing)) =>
        withRankOffsets(withSpatialId(byTile, ra, dec, id), existing)
          .repartition(col("Norder"), col("Npix"))
    }
    ranked.sortWithinPartitions(col("Norder"), col("Dir"), col("Npix"), col("_ID"))
      .write.mode(mode).partitionBy("Norder", "Dir", "Npix")
      .parquet(path)
  }

  /**
   * The reference's order-14 spatial index `[pix@14 | rank]`
   * (dask_utils.py:167 compute_index) added WITHOUT a shuffle: after
   * the repartition by partition pixel, every order-14 pixel's rows
   * are complete within one partition (orderK <= 14), so the
   * per-pixel rank is a partition-local running counter over rows
   * sorted by (pix14, ra, dec, id). Rows come out sorted by `_ID`,
   * so written files carry monotonic `_ID` (and clustered ra/dec) —
   * parquet row-group min/max stats then prune stored-catalog cone
   * searches at the ROW-GROUP level, not just the file level.
   */
  private def withSpatialId(df: DataFrame, raCol: String, decCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField}
    val order = 14
    // NOTE: the reference computes this as uint64 (dask_utils.py:167);
    // Spark has no unsigned long, so `_ID` is the same 64-bit pattern
    // REINTERPRETED as signed — pixels >= 2^31 (~1/3 of the sky, the
    // south) produce negative `_ID`s. Per-file monotonicity and
    // row-group min/max pruning are unaffected (2^31 is 4^(14-o)
    // aligned, so no partition straddles the sign flip), but GLOBAL
    // comparisons/sorts across the sign boundary must use
    // `_ID` unsigned (e.g. compare `_ID - Long.MinValue`, or
    // shiftrightunsigned to recover pix14). Asserted in CatalogSpec.
    val shift = 64 - (4 + 2 * order)
    val sorted = df
      .withColumn("__pix14", sphere.hpix(col(raCol).cast("double"), col(decCol).cast("double"), order))
      .sortWithinPartitions(col("__pix14"), col(raCol), col(decCol), col(idCol))
    val pixIdx = sorted.schema.fieldIndex("__pix14")
    val schema = sorted.schema.add(StructField("_ID", LongType, nullable = false))
    sorted.mapPartitions { rows =>
      var cur = Long.MinValue
      var rank = -1L
      rows.map { r =>
        val p = r.getLong(pixIdx)
        if (p != cur) { cur = p; rank = 0L } else rank += 1
        Row.fromSeq(r.toSeq :+ ((p << shift) + rank))
      }
    }(org.apache.spark.sql.Encoders.row(schema)).drop("__pix14")
  }

  /** Per-order-14-pixel `_ID` rank continuation: joins each new row's
   *  pix14 against the tree's current max rank so appended ranks
   *  start where the existing ones stop. A standard shuffle join on
   *  the pixel — the offsets frame is one row per occupied pix14,
   *  never collected. */
  private def withRankOffsets(ids: DataFrame, existingTree: DataFrame): DataFrame = {
    val base = existingTree
      .select(shiftrightunsigned(col("_ID"), 32).as("__pix14"),
        col("_ID").bitwiseAND(lit(0xffffffffL)).as("__rk"))
      .groupBy("__pix14").agg((max("__rk") + 1).as("__base"))
    ids.withColumn("__pix14", shiftrightunsigned(col("_ID"), 32))
      .join(base, Seq("__pix14"), "left")
      .withColumn("_ID", col("_ID") + coalesce(col("__base"), lit(0L)))
      .drop("__pix14", "__base")
  }

  /** After a write to the hive trees: drop the session's cached
   *  listings of both (a same-session reader would otherwise miss new
   *  files or read deleted ones) and rewrite their summary sidecars. */
  private[catalog] def treesChanged(spark: SparkSession, paths: Paths): Unit = Trees.foreach { t =>
    spark.catalog.refreshByPath(paths.tree(t))
    writeSummaryFiles(spark, paths.tree(t))
  }

  /**
   * Parquet `_metadata` (all row groups) + `_common_metadata` (schema
   * only) summary sidecars for one written tree — the byte-level
   * layout the reference emits (partitioner.py:373) and its reader
   * consumes (lsd2_io.py:324 read_parquet_metadata). Footers are read
   * through parquet-hadoop's pooled parallel reader and merged by its
   * own summary writer, so the sidecar is exactly what a
   * pyarrow/parquet-mr consumer expects. Graft never reads these
   * back — see the scale note on [[HipsPartitioner.write]].
   */
  private def writeSummaryFiles(spark: SparkSession, dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val files = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")) files += f
    }
    if (files.nonEmpty) {
      val footers = org.apache.parquet.hadoop.ParquetFileReader
        .readAllFootersInParallel(conf, files.toList.asJava)
      org.apache.parquet.hadoop.ParquetFileWriter.writeMetadataFile(
        conf, root, footers,
        org.apache.parquet.hadoop.ParquetOutputFormat.JobSummaryLevel.ALL)
    }
  }
}
