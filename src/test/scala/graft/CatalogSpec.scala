package graft

import graft.catalog.{Catalog, CatalogFormat, HipsCatalog, HipsPartitioner}
import graft.functions.sphere
import org.apache.spark.sql.functions._

class CatalogSpec extends SparkSpecBase {

  private def li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
    .withColumn("k", col("l_orderkey") * 8 + col("l_linenumber"))
    .withColumn("cra", sphere.raOf(col("k")))
    .withColumn("cdec", sphere.decOf(col("k")))

  test("adaptive partition map: every pixel assigned, dense regions subdivide") {
    val pm = HipsPartitioner.computePartitionMap(li, "cra", "cdec", orderK = 4, threshold = 500)
    // the walk tiles the WHOLE sky (no -1 gaps) with orders in [0, k]
    assert(pm.grid.tileOrders.forall(o => o >= 0 && o <= 4))
    assert(pm.grid.tileStarts.head == 0L)
    // partition counts respect the threshold (except possibly at order k)
    val counts = HipsPartitioner.withPartitionColumns(li, "cra", "cdec", pm)
      .groupBy("Norder", "Npix").count().collect()
    counts.filter(_.getInt(0) < 4).foreach(r => assert(r.getLong(2) < 500, s"partition over threshold: $r"))
    assert(counts.map(_.getLong(2)).sum == li.count())
  }

  test("sparse threshold walk matches the dense reference walk on every sky pixel") {
    // oracle: the dense order 0 -> k walk exactly as the reference
    // runs it (compute_partitioning_map, partitioner.py:136) — kept
    // here as an independent reimplementation after the production
    // path went sparse
    val orderK = 6
    val threshold = 500L
    val n = graft.healpix.Healpix.npix(orderK).toInt
    val hist = new Array[Long](n)
    li.groupBy(sphere.hpix(col("cra"), col("cdec"), orderK).as("pix"))
      .agg(count(lit(1)).as("cnt")).collect()
      .foreach(r => hist(r.getLong(0).toInt) = r.getLong(1))
    val dense = Array.fill(n)(-1)
    var o = 0
    while (o <= orderK) {
      val k2o = 1 << (2 * (orderK - o))
      var p = 0
      while (p < n / k2o) {
        val lo = p * k2o
        var active = false; var sum = 0L; var i = lo
        while (i < lo + k2o) { if (dense(i) == -1) active = true; sum += hist(i); i += 1 }
        if (active && (sum < threshold || o == orderK)) {
          var j = lo
          while (j < lo + k2o) { if (dense(j) == -1) dense(j) = o; j += 1 }
        }
        p += 1
      }
      o += 1
    }
    val pm = HipsPartitioner.computePartitionMap(li, "cra", "cdec", orderK, threshold)
    var pix = 0
    while (pix < n) {
      assert(pm.assignedOrder(pix.toLong) == dense(pix),
        s"pixel $pix: sparse=${pm.assignedOrder(pix.toLong)} dense=${dense(pix)}")
      pix += 1
    }
    // and the tiling is data-bounded, not 4^k-bounded
    assert(pm.grid.tileStarts.length < n / 4, s"tile count ${pm.grid.tileStarts.length} not sparse")
  }

  test("orderK=12 import: data-bounded driver state, cone search parity") {
    // the reference caps gather_statistics at order 10 (dense 12*4^10
    // array); the sparse walk runs order 12 (201M sky pixels) with
    // driver state bounded by OCCUPIED pixels
    val out = java.nio.file.Files.createTempDirectory("graft_o12").toString
    val pm = HipsPartitioner.write(li, "cra", "cdec", "k", out, "fine12",
      orderK = 12, threshold = 200, marginDeg = 0.1)
    assert(pm.histPix.length <= li.count(), "sparse hist bounded by row count")
    assert(pm.grid.tileStarts.length.toLong < 40L * pm.histPix.length + 12,
      s"tiles ${pm.grid.tileStarts.length} must be data-bounded (occupied=${pm.histPix.length})")
    assert(pm.grid.tileOrders.forall(o => o >= 0 && o <= 12))
    val cone = HipsCatalog.coneSearch(spark, out, "fine12", "cra", "cdec", 180.0, 0.0, 30.0, orderK = 12)
      .select("k").collect().map(_.getLong(0)).sorted
    val brute = li.withColumn("d", sphere.gcDist(col("cra"), col("cdec"), lit(180.0), lit(0.0)))
      .filter(col("d") < 30.0).select("k").collect().map(_.getLong(0)).sorted
    assert(cone.toSeq == brute.toSeq && cone.nonEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("write + load round-trips all rows; hive cone search equals brute force") {
    val out = java.nio.file.Files.createTempDirectory("graft_cat").toString
    HipsPartitioner.write(li, "cra", "cdec", "k", out, "litest", orderK = 4, threshold = 500, marginDeg = 1.0)

    val loaded = HipsCatalog.load(spark, out, "litest")
    assert(loaded.count() == li.count())

    for (radius <- Seq(10.0, 30.0)) {
      val cone = HipsCatalog.coneSearch(spark, out, "litest", "cra", "cdec", 180.0, 0.0, radius, orderK = 4)
        .select("k").collect().map(_.getLong(0)).sorted
      val brute = li.withColumn("d", sphere.gcDist(col("cra"), col("cdec"), lit(180.0), lit(0.0)))
        .filter(col("d") < radius).select("k").collect().map(_.getLong(0)).sorted
      assert(cone.toSeq == brute.toSeq, s"radius=$radius")
    }

    // stored box/polygon searches (pruned scan + exact predicate)
    // equal the in-flight operators over the same rows — including an
    // ra-wrapping box
    for ((raLo, raHi, decLo, decHi) <- Seq((170.0, 190.0, -20.0, 20.0), (350.0, 10.0, -30.0, 5.0))) {
      val stored = HipsCatalog.boxSearch(spark, out, "litest", "cra", "cdec",
        raLo, raHi, decLo, decHi, orderK = 4).select("k").collect().map(_.getLong(0)).sorted
      val inflight = graft.operators.Spatial.boxSearch(li, "cra", "cdec", raLo, raHi, decLo, decHi)
        .select("k").collect().map(_.getLong(0)).sorted
      assert(stored.toSeq == inflight.toSeq, s"box ($raLo,$raHi,$decLo,$decHi)")
      assert(stored.nonEmpty, "box parity test must actually cover rows")
    }
    val poly = Seq((150.0, -25.0), (210.0, -25.0), (210.0, 25.0), (150.0, 25.0))
    val storedPoly = HipsCatalog.polygonSearch(spark, out, "litest", "cra", "cdec", poly, orderK = 4)
      .select("k").collect().map(_.getLong(0)).sorted
    val inflightPoly = graft.operators.Spatial.polygonSearch(li, "cra", "cdec", poly)
      .select("k").collect().map(_.getLong(0)).sorted
    assert(storedPoly.toSeq == inflightPoly.toSeq && storedPoly.nonEmpty)

    // parquet summary sidecars (the reference reader's
    // read_parquet_metadata input): _metadata aggregates EVERY part
    // file's row groups — total rows and file count must match the
    // written tree exactly; _common_metadata carries the schema
    for (tree <- Seq("catalog", "neighbor")) {
      val (nFiles, nRows, sidecarFiles) = summaryStats(s"$out/litest/$tree")
      val treeRows = spark.read.parquet(s"$out/litest/$tree").count()
      val partFiles = org.apache.commons.io.FileUtils
        .listFiles(new java.io.File(s"$out/litest/$tree"), Array("parquet"), true)
        .size()
      assert(nRows == treeRows, s"$tree: _metadata row total $nRows != $treeRows")
      assert(nFiles == partFiles, s"$tree: _metadata covers $nFiles files, tree has $partFiles")
      assert(Set("_metadata", "_common_metadata").subsetOf(sidecarFiles))
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  /** (#files covered, total rows, sidecar names present) from a
   *  tree's `_metadata` summary file. */
  private def summaryStats(dir: String): (Int, Long, Set[String]) = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val meta = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      conf, new org.apache.hadoop.fs.Path(s"$dir/_metadata"))
    val blocks = meta.getBlocks.asScala
    val present = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_")).map(_.getName).toSet
    (blocks.map(_.getPath).distinct.size, blocks.map(_.getRowCount).sum, present)
  }

  test("wide queries on a fine catalog: adaptive cover order keeps candidates bounded, results exact") {
    // orderK = 6 catalog + wide queries force coverOrder < orderK
    // (a 180-deg bounding cone at order 6 would enumerate half the
    // 49k-pixel sky; the adaptive cover coarsens instead) — both the
    // ancestor and the shifted-descendant pruning branches run here
    val out = java.nio.file.Files.createTempDirectory("graft_wide").toString
    HipsPartitioner.write(li, "cra", "cdec", "k", out, "wide", orderK = 6, threshold = 200, marginDeg = 0.5)

    // full-RA dec band: bounding cone radius = 180 deg
    val band = HipsCatalog.boxSearch(spark, out, "wide", "cra", "cdec", 0.0, 360.0, -10.0, 10.0, orderK = 6)
      .select("k").collect().map(_.getLong(0)).sorted
    val bandBrute = li.filter(col("cdec") >= -10.0 && col("cdec") <= 10.0)
      .select("k").collect().map(_.getLong(0)).sorted
    assert(band.toSeq == bandBrute.toSeq && band.nonEmpty)

    val cone = HipsCatalog.coneSearch(spark, out, "wide", "cra", "cdec", 180.0, 0.0, 60.0, orderK = 6)
      .select("k").collect().map(_.getLong(0)).sorted
    val coneBrute = li.withColumn("d", sphere.gcDist(col("cra"), col("cdec"), lit(180.0), lit(0.0)))
      .filter(col("d") < 60.0).select("k").collect().map(_.getLong(0)).sorted
    assert(cone.toSeq == coneBrute.toSeq && cone.nonEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("stored cross-match (catalog + neighbor files) equals in-flight crossMatchKnn") {
    val out = java.nio.file.Files.createTempDirectory("graft_xm").toString
    val cust = spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .withColumn("cra", sphere.raOf(col("c_custkey")))
      .withColumn("cdec", sphere.decOf(col("c_custkey")))
    val supp = spark.read.parquet(sf("sf0.001") + "/supplier.parquet")
      .withColumn("sra", sphere.raOf(col("s_suppkey")))
      .withColumn("sdec", sphere.decOf(col("s_suppkey")))
    HipsPartitioner.write(cust, "cra", "cdec", "c_custkey", out, "c1", orderK = 2, threshold = 100, marginDeg = 12.0)
    HipsPartitioner.write(supp, "sra", "sdec", "s_suppkey", out, "c2", orderK = 2, threshold = 100, marginDeg = 12.0)

    val storedDf = HipsCatalog.crossMatchStored(spark, out, "c1", "c2",
      "cra", "cdec", "c_custkey", "sra", "sdec", "s_suppkey", k = 2, dthreshDeg = 10.0, orderK = 2)
    val stored = storedDf.select("c_custkey", "r_s_suppkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted

    val inflight = graft.operators.Spatial.crossMatchKnn(cust, supp,
      "cra", "cdec", "c_custkey", "sra", "sdec", "s_suppkey",
      k = 2, dthreshDeg = 10.0, leftPrefix = "", rightPrefix = "x_")
      .select("c_custkey", "x_s_suppkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted

    assert(stored.toSeq == inflight.toSeq)

    // hips_k/hips_pix carry the match partition (the right catalog's
    // adaptive pixel containing the left row) — reference catalog.py:232
    val grid = HipsCatalog.partitionGrid(spark, out, "c2", 2)
    storedDf.select("cra", "cdec", "hips_k", "hips_pix").collect().foreach { r =>
      val pixK = graft.healpix.Healpix.ang2pixNest(2, r.getDouble(0), r.getDouble(1))
      val o = grid.order(pixK)
      assert(r.getInt(2) == o, s"hips_k mismatch at $r")
      assert(r.getLong(3) == (pixK >> (2 * (2 - o))), s"hips_pix mismatch at $r")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("polar caps + RA seam: stored cross-match equals brute force — zero lost matches") {
    // the adversarial margin geometry: points hugging BOTH poles
    // (including pairs whose great-circle path crosses the pole,
    // i.e. different base faces) and points straddling the ra=0/360
    // seam. The reference dedicates ~200 lines to polar margins
    // (margin_utils.py:307-375); graft's disc-cover margins handle
    // poles by construction — this pins it against brute force.
    import spark.implicits._
    val dthresh = 0.15
    def wrap(ra: Double): Double = (ra % 360.0 + 360.0) % 360.0
    val left = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    var id = 1000L
    // polar rings, both hemispheres; the 89.95 ring's points are all
    // within dthresh of each other THROUGH the pole
    for (sign <- Seq(1, -1); (dec, step) <- Seq((88.5, 30), (89.2, 30), (89.95, 90));
         ra <- 0 until 360 by step) {
      left += ((id, ra.toDouble, sign * dec)); id += 1
    }
    // seam straddlers on both sides of ra=0
    for (dec <- Seq(-45.0, 0.0, 45.0); ra <- Seq(359.95, 0.02)) {
      left += ((id, ra, dec)); id += 1
    }
    // right catalog: each left point gets a twin shifted ~0.08 deg in
    // ra (wrapping through the seam for the straddlers)
    val right = left.map { case (i, ra, dec) => (i + 100000L, wrap(ra + 0.08), dec) }
    val lDf = left.toSeq.toDF("lid", "lra", "ldec")
    val rDf = right.toSeq.toDF("rid", "rra", "rdec")

    val out = java.nio.file.Files.createTempDirectory("graft_polar").toString
    HipsPartitioner.write(lDf, "lra", "ldec", "lid", out, "pl", orderK = 4, threshold = 4, marginDeg = 0.2)
    HipsPartitioner.write(rDf, "rra", "rdec", "rid", out, "pr", orderK = 4, threshold = 4, marginDeg = 0.2)

    val brute = lDf.crossJoin(rDf)
      .withColumn("d", sphere.gcDist(col("lra"), col("ldec"), col("rra"), col("rdec")))
      .filter(col("d") < dthresh)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    // every left point must have found its twin, and the through-pole
    // pairs (different base faces at the 89.95 ring) must be present —
    // otherwise this test isn't exercising the polar margin at all
    assert(brute.size >= left.size, "every left point has at least its shifted twin in range")
    val polarRing = left.filter { case (_, _, dec) => math.abs(dec) > 89.9 }.map(_._1).toSet
    val crossPole = brute.filter { case (l, r) => polarRing(l) && r - 100000L != l }
    assert(crossPole.nonEmpty, "through-pole pairs must exist for the margin to be exercised")

    val stored = HipsCatalog.crossMatchStored(spark, out, "pl", "pr",
      "lra", "ldec", "lid", "rra", "rdec", "rid", k = 10, dthreshDeg = dthresh, orderK = 4)
      .select("lid", "r_rid").as[(Long, Long)].collect().toSet
    assert(stored == brute,
      s"stored cross-match lost ${(brute -- stored).size} matches (extra: ${(stored -- brute).size}) " +
        s"— missing: ${(brute -- stored).take(5)}")

    val inflight = graft.operators.Spatial.crossMatchKnn(lDf, rDf,
      "lra", "ldec", "lid", "rra", "rdec", "rid",
      k = 10, dthreshDeg = dthresh, leftPrefix = "", rightPrefix = "x_")
      .select("lid", "x_rid").as[(Long, Long)].collect().toSet
    assert(inflight == brute, "in-flight cross-match must also equal brute force")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("Catalog object API: import, load with pruning, cone search, cross-match") {
    val out = java.nio.file.Files.createTempDirectory("graft_oo").toString
    val cust = spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .withColumn("cra", sphere.raOf(col("c_custkey")))
      .withColumn("cdec", sphere.decOf(col("c_custkey")))
    val supp = spark.read.parquet(sf("sf0.001") + "/supplier.parquet")
      .withColumn("sra", sphere.raOf(col("s_suppkey")))
      .withColumn("sdec", sphere.decOf(col("s_suppkey")))

    val c1 = Catalog.importFrom(cust, out, "cust", "cra", "cdec", "c_custkey",
      orderK = 2, threshold = 100, marginDeg = 12.0)
    val c2 = Catalog.importFrom(supp, out, "supp", "sra", "sdec", "s_suppkey",
      orderK = 2, threshold = 100, marginDeg = 12.0)

    assert(c1.raKw == "cra" && c1.orderK == 2)
    assert(c1.load(Seq("c_name")).columns.toSet == Set("c_name", "cra", "cdec", "c_custkey"))
    assert(c1.coneSearch(180.0, 0.0, 30.0).count() == 17)
    // column-pruned cone search: requested + ra/dec/id + _DIST, no hive columns
    val cone = c1.coneSearch(180.0, 0.0, 30.0, columns = Seq("c_name"))
    assert(cone.columns.toSet == Set("c_name", "cra", "cdec", "c_custkey", "_DIST"))
    assert(cone.count() == 17)

    // mirrors examples/hipscat_tests.py:74-119: import -> cross_match
    // with per-side column selection -> post-filter on a prefixed column
    val xm = c1.crossMatch(c2, nNeighbors = 2, dthreshDeg = 10.0,
      c1Cols = Seq("c_name"), c2Cols = Seq("s_name"))
    assert(xm.columns.contains("supp.s_suppkey") && xm.columns.contains("_DIST"))
    assert(xm.columns.contains("cust.c_name") && xm.columns.contains("supp.s_name"))
    assert(xm.columns.contains("hips_k") && xm.columns.contains("hips_pix"))
    assert(!xm.columns.contains("cust.c_acctbal"), "unselected columns must not survive")
    assert(xm.count() > 0)
    assert(xm.filter(col("`supp.s_suppkey`") % 5 > 3).count() > 0)
    // the pruning must reach the parquet scans: no ReadSchema carries
    // an unselected wide column on either side
    val scans = xm.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!scans.contains("c_acctbal") && !scans.contains("s_acctbal"),
      s"unselected columns must be pruned from the scans:\n$scans")

    val xmAll = c1.crossMatch(c2, nNeighbors = 2, dthreshDeg = 10.0)
    assert(xmAll.columns.contains("cust.c_acctbal") && xmAll.columns.contains("supp.s_acctbal"),
      "no selection means all columns, prefixed")

    // density map persisted at import == an independent recompute
    val dm = c1.densityMap().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val recomputed = graft.operators.Spatial.densityHistogram(cust, "cra", "cdec", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dm == recomputed, "point_map.parquet must equal a recomputed density histogram")

    // Catalog.open threads storage options into the session's hadoop
    // conf (the reference's storage_options surface, lsd2_io.py:43);
    // the local-FS read takes the identical Hadoop FileSystem path
    val opened = Catalog.open(spark, out, "cust",
      Map("fs.s3a.endpoint" -> "s3.example.test"))
    assert(spark.sparkContext.hadoopConfiguration.get("fs.s3a.endpoint") == "s3.example.test")
    assert(opened.load().count() == cust.count())
    spark.sparkContext.hadoopConfiguration.unset("fs.s3a.endpoint")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("_ID bit layout survives the signed reinterpretation for high (southern) pixels") {
    import graft.healpix.Healpix
    val out = java.nio.file.Files.createTempDirectory("graft_south").toString
    // deep-southern points: order-14 pixel >= 2^31, so (pix << 32) has
    // the sign bit set — _ID must still carry the exact reference bit
    // pattern (pix14 recoverable via unsigned shift) even though the
    // signed Long value is negative
    val sess = spark
    import sess.implicits._
    val pts = Seq((1L, 200.0, -75.0), (2L, 310.0, -88.0), (3L, 45.0, -60.0), (4L, 10.0, 40.0))
      .toDF("id", "ra", "dec")
    HipsPartitioner.write(pts, "ra", "dec", "id", out, "south", orderK = 0, threshold = 10)
    val rows = HipsCatalog.load(spark, out, "south")
      .select("id", "ra", "dec", "_ID").collect()
    assert(rows.length == 4)
    var sawNegative = false
    rows.foreach { r =>
      val id = r.getLong(3)
      val pix14 = Healpix.ang2pixNest(14, r.getDouble(1), r.getDouble(2))
      assert((id >>> 32) == pix14, s"pix14 must be recoverable by unsigned shift for ${r.getLong(0)}")
      if (id < 0) sawNegative = true
      if (pix14 >= (1L << 31)) assert(id < 0, "high pixel must wrap negative (signed reinterpretation)")
    }
    assert(sawNegative, "test must actually cover the sign-flip region")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("resumable import: batch-identical to single-shot write, completed batches skipped on re-run") {
    val out = java.nio.file.Files.createTempDirectory("graft_resume").toString
    val cust = spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .withColumn("cra", sphere.raOf(col("c_custkey")))
      .withColumn("cdec", sphere.decOf(col("c_custkey")))
    // three source "files" (parquet batches)
    val srcDir = java.nio.file.Files.createTempDirectory("graft_resume_src").toString
    (0 until 3).foreach { i =>
      cust.filter(col("c_custkey") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/part$i")
    }
    val batches = (0 until 3).map(i => Seq(s"$srcDir/part$i"))

    // single-shot reference output
    HipsPartitioner.write(cust, "cra", "cdec", "c_custkey", out, "direct",
      orderK = 2, threshold = 100, marginDeg = 5.0)
    // resumable output over the same rows
    HipsPartitioner.writeResumable(spark, batches,
      files => spark.read.parquet(files: _*),
      "cra", "cdec", "c_custkey", out, "resumed", orderK = 2, threshold = 100, marginDeg = 5.0)

    def dump(cat: String) = HipsCatalog.load(spark, out, cat)
      .select(col("c_custkey"), col("_ID"), col("Norder").cast("int"), col("Npix").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).sorted.toSeq
    assert(dump("resumed") == dump("direct"),
      "resumable import must be row-identical (incl _ID) to the single-shot write")

    // re-run: staged batches must be untouched (markers respected)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def stageMtimes: Map[String, Long] = (0 until 3).flatMap { i =>
      val dir = new org.apache.hadoop.fs.Path(s"$out/resumed/_import/stage/batch=$i")
      fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => st.getPath.toString -> st.getModificationTime)
    }.toMap
    val before = stageMtimes
    var reads = 0
    HipsPartitioner.writeResumable(spark, batches,
      files => { reads += 1; spark.read.parquet(files: _*) },
      "cra", "cdec", "c_custkey", out, "resumed", orderK = 2, threshold = 100, marginDeg = 5.0)
    assert(reads == 0, "a completed batch must not be re-read from source")
    assert(stageMtimes == before, "staged parquet must not be rewritten on resume")
    assert(dump("resumed") == dump("direct"), "re-run output still identical")

    // partial resume: invalidate ONE batch's histogram marker — only
    // that histogram is recomputed, staging is still reused
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/resumed/_import/hist/batch=1/_SUCCESS"), false)
    HipsPartitioner.writeResumable(spark, batches,
      files => { reads += 1; spark.read.parquet(files: _*) },
      "cra", "cdec", "c_custkey", out, "resumed", orderK = 2, threshold = 100, marginDeg = 5.0)
    assert(reads == 0, "hist recompute reads staging, not sources")
    assert(dump("resumed") == dump("direct"))

    // resuming with a different batch list must be refused, not mixed
    val e = intercept[IllegalArgumentException] {
      HipsPartitioner.writeResumable(spark, batches.take(2),
        files => spark.read.parquet(files: _*),
        "cra", "cdec", "c_custkey", out, "resumed", orderK = 2, threshold = 100, marginDeg = 5.0)
    }
    assert(e.getMessage.contains("DIFFERENT batch list"))

    // sources regenerated under the SAME paths: a COMPLETED batch's
    // staging is the source of truth, so the resume still succeeds
    // without re-reading sources and the output is unchanged...
    Thread.sleep(1100) // ensure a distinct mtime even on coarse filesystems
    cust.filter(col("c_custkey") % 3 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$srcDir/part0")
    HipsPartitioner.writeResumable(spark, batches,
      files => { reads += 1; spark.read.parquet(files: _*) },
      "cra", "cdec", "c_custkey", out, "resumed", orderK = 2, threshold = 100, marginDeg = 5.0)
    assert(reads == 0, "completed staging must not consult changed sources")
    assert(dump("resumed") == dump("direct"))
    // ...including a batch with ONLY its histogram marker missing: the
    // histogram recomputes from staged bytes, so changed sources must
    // not block it (staleness gates on the STAGE marker alone)
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/resumed/_import/hist/batch=0/_SUCCESS"), false)
    HipsPartitioner.writeResumable(spark, batches,
      files => { reads += 1; spark.read.parquet(files: _*) },
      "cra", "cdec", "c_custkey", out, "resumed", orderK = 2, threshold = 100, marginDeg = 5.0)
    assert(reads == 0, "hist-only recompute must not consult changed sources")
    assert(dump("resumed") == dump("direct"))
    // ...but an UNSTAGED batch whose sources changed must be refused
    // (it would re-read the new bytes and silently mix generations)
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/resumed/_import/stage/batch=0/_SUCCESS"), false)
    val e2 = intercept[IllegalArgumentException] {
      HipsPartitioner.writeResumable(spark, batches,
        files => spark.read.parquet(files: _*),
        "cra", "cdec", "c_custkey", out, "resumed", orderK = 2, threshold = 100, marginDeg = 5.0)
    }
    assert(e2.getMessage.contains("UNSTAGED batch 0"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(srcDir))
  }

  test("incremental append: frozen map, _ID continuation, search + margin parity, density fold") {
    val out = java.nio.file.Files.createTempDirectory("graft_append").toString
    val first = li.filter(col("k") % 2 === 0)
    val second = li.filter(col("k") % 2 =!= 0)
    HipsPartitioner.write(first, "cra", "cdec", "k", out, "grow", orderK = 4, threshold = 500, marginDeg = 1.0)
    val pm = HipsPartitioner.append(second, "cra", "cdec", "k", out, "grow")

    // every row present exactly once; merged histogram is the full count
    val loaded = HipsCatalog.load(spark, out, "grow")
    assert(loaded.count() == li.count())
    assert(pm.nSources == li.count())
    // k is NOT row-unique in the synthetic lineitem — compare distincts
    assert(loaded.select("k").distinct().count() == li.select("k").distinct().count())

    // _ID continuation: unique across old + new files
    assert(loaded.select("_ID").distinct().count() == li.count(),
      "appended _IDs must continue, not collide with, existing ranks")

    // cone search on the appended catalog equals brute force over ALL rows
    val cone = HipsCatalog.coneSearch(spark, out, "grow", "cra", "cdec", 180.0, 0.0, 30.0, orderK = 4)
      .select("k").collect().map(_.getLong(0)).sorted
    val brute = li.withColumn("d", sphere.gcDist(col("cra"), col("cdec"), lit(180.0), lit(0.0)))
      .filter(col("d") < 30.0).select("k").collect().map(_.getLong(0)).sorted
    assert(cone.toSeq == brute.toSeq && cone.nonEmpty)

    // the append refreshed the summary sidecars: _metadata's row total
    // must cover old + appended files, not the import-time snapshot
    val (_, sidecarRows, _) = summaryStats(s"$out/grow/catalog")
    assert(sidecarRows == li.count(),
      s"_metadata after append covers $sidecarRows rows, tree has ${li.count()}")

    // margin cache grows too: stored cross-match against the appended
    // catalog equals the in-flight cross-match over the union
    val cust = spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .withColumn("cra", sphere.raOf(col("c_custkey"))).withColumn("cdec", sphere.decOf(col("c_custkey")))
    HipsPartitioner.write(cust, "cra", "cdec", "c_custkey", out, "qcat", orderK = 4, threshold = 500, marginDeg = 1.0)
    val stored = HipsCatalog.crossMatchStored(spark, out, "qcat", "grow",
        "cra", "cdec", "c_custkey", "cra", "cdec", "k", k = 2, dthreshDeg = 0.8, orderK = 4)
      .select(col("c_custkey"), col("r_k"), col("_RANK")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    val inflight = graft.operators.Spatial.crossMatchKnn(cust, li, "cra", "cdec", "c_custkey",
        "cra", "cdec", "k", k = 2, dthreshDeg = 0.8, leftPrefix = "", rightPrefix = "r_")
      .select(col("c_custkey"), col("r_k"), col("_RANK")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    assert(stored.toSeq == inflight.toSeq && stored.nonEmpty,
      "stored margins must cover appended rows")

    // density artifact folded: point_map == histogram of the union
    val cat = Catalog(spark, out, "grow")
    val dm = cat.densityMap().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = li.groupBy(sphere.hpix(col("cra"), col("cdec"), 4).as("pix")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dm == truth)

    // a SECOND append (even of duplicate rows) keeps _ID unique —
    // ranks continue from the post-first-append maxima
    cat.append(li.limit(137))
    val again = HipsCatalog.load(spark, out, "grow")
    assert(again.count() == li.count() + 137)
    assert(again.select("_ID").distinct().count() == li.count() + 137,
      "second append must continue ranks, not restart them")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("catalog repartition: over-threshold pixels re-split, _IDs preserved, layout + search + margin parity with a fresh import") {
    val out = java.nio.file.Files.createTempDirectory("graft_repart").toString
    // import 1/8th of the data, then append the rest — pixels grow
    // ~8x past the import-time density, the frozen-map lifecycle gap
    val first = li.filter(col("k") % 8 === 1)
    val rest = li.filter(col("k") % 8 =!= 1)
    HipsPartitioner.write(first, "cra", "cdec", "k", out, "rp", orderK = 4, threshold = 200, marginDeg = 1.0)
    HipsPartitioner.append(rest, "cra", "cdec", "k", out, "rp")
    val beforeIds = HipsCatalog.load(spark, out, "rp")
      .select("_ID").collect().map(_.getLong(0)).sorted.toSeq
    def tilesOf(cat: String): Set[(Int, Long)] = {
      val root = new java.io.File(s"$out/$cat/catalog")
      root.listFiles().filter(_.getName.startsWith("Norder=")).flatMap { od =>
        val o = od.getName.stripPrefix("Norder=").toInt
        od.listFiles().flatMap(_.listFiles()).filter(_.getName.startsWith("Npix="))
          .map(pd => (o, pd.getName.stripPrefix("Npix=").toLong))
      }.toSet
    }
    val tilesBefore = tilesOf("rp")

    val pm = HipsPartitioner.repartition(spark, out, "rp")
    // rows survive exactly, _IDs byte-preserved
    val after = HipsCatalog.load(spark, out, "rp")
    assert(after.count() == li.count())
    assert(after.select("_ID").collect().map(_.getLong(0)).sorted.toSeq == beforeIds,
      "repartition must preserve _IDs — the index is partitioning-independent")
    assert(pm.nSources == li.count())

    // the refined layout equals a FRESH single-shot import of the
    // union (same histogram -> same deterministic walk), and it
    // actually refined something
    HipsPartitioner.write(li, "cra", "cdec", "k", out, "rpfresh", orderK = 4, threshold = 200, marginDeg = 1.0)
    val tilesAfter = tilesOf("rp")
    assert(tilesAfter == tilesOf("rpfresh"), "repartitioned layout must equal a fresh import's")
    assert(tilesAfter != tilesBefore, "the 8x growth must have split at least one tile")
    // _ID rank ranges per order-14 pixel are dense 0..n-1 in both
    // builds, so the _ID multisets agree even though append order differed
    val freshIds = HipsCatalog.load(spark, out, "rpfresh")
      .select("_ID").collect().map(_.getLong(0)).sorted.toSeq
    assert(beforeIds == freshIds)

    // pruned cone search parity against brute force
    val cone = HipsCatalog.coneSearch(spark, out, "rp", "cra", "cdec", 180.0, 0.0, 30.0, orderK = 4)
      .select("k").collect().map(_.getLong(0)).sorted
    val brute = li.withColumn("d", sphere.gcDist(col("cra"), col("cdec"), lit(180.0), lit(0.0)))
      .filter(col("d") < 30.0).select("k").collect().map(_.getLong(0)).sorted
    assert(cone.toSeq == brute.toSeq && cone.nonEmpty)

    // stored cross-match (margins rebuilt for split tiles, incl. the
    // NEW internal borders) equals the fresh import's and the in-flight
    val cust = spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .withColumn("cra", sphere.raOf(col("c_custkey"))).withColumn("cdec", sphere.decOf(col("c_custkey")))
    HipsPartitioner.write(cust, "cra", "cdec", "c_custkey", out, "rq", orderK = 4, threshold = 500, marginDeg = 1.0)
    def stored(cat: String) = HipsCatalog.crossMatchStored(spark, out, "rq", cat,
        "cra", "cdec", "c_custkey", "cra", "cdec", "k", k = 2, dthreshDeg = 0.8, orderK = 4)
      .select(col("c_custkey"), col("r_k"), col("_RANK")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val viaRepart = stored("rp")
    assert(viaRepart == stored("rpfresh"), "margin caches must agree after repartition")
    val inflight = graft.operators.Spatial.crossMatchKnn(cust, li, "cra", "cdec", "c_custkey",
        "cra", "cdec", "k", k = 2, dthreshDeg = 0.8, leftPrefix = "", rightPrefix = "r_")
      .select(col("c_custkey"), col("r_k"), col("_RANK")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(viaRepart == inflight && viaRepart.nonEmpty)

    // idempotent: a second repartition finds nothing to split
    val pm2 = HipsPartitioner.repartition(spark, out, "rp")
    assert(tilesOf("rp") == tilesAfter && pm2.nSources == li.count())

    // appends AFTER repartition assign under the REFINED frozen map
    Catalog(spark, out, "rp").append(li.limit(97))
    val again = HipsCatalog.load(spark, out, "rp")
    assert(again.count() == li.count() + 97)
    assert(again.select("_ID").distinct().count() == li.count() + 97,
      "post-repartition append must continue ranks uniquely")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("repartition crash recovery: pre-commit debris discarded, post-commit journal rolled forward without duplicates") {
    import org.apache.commons.io.FileUtils
    import java.io.File
    val out = java.nio.file.Files.createTempDirectory("graft_repartcrash").toString
    val first = li.filter(col("k") % 8 === 1)
    val rest = li.filter(col("k") % 8 =!= 1)
    HipsPartitioner.write(first, "cra", "cdec", "k", out, "rc", orderK = 4, threshold = 200, marginDeg = 1.0)
    HipsPartitioner.append(rest, "cra", "cdec", "k", out, "rc")

    def tiles(cat: String, tree: String): Set[(Int, Long)] = {
      val root = new File(s"$out/$cat/$tree")
      if (!root.exists()) Set.empty
      else root.listFiles().filter(_.getName.startsWith("Norder=")).flatMap { od =>
        val o = od.getName.stripPrefix("Norder=").toInt
        od.listFiles().flatMap(_.listFiles()).filter(_.getName.startsWith("Npix="))
          .map(pd => (o, pd.getName.stripPrefix("Npix=").toLong))
      }.toSet
    }
    def dirOf(p: Long) = p / 10000L * 10000L

    // clone the grown catalog and run a CLEAN repartition on the clone
    // — its end state is the ground truth the recovery must reproduce
    FileUtils.copyDirectory(new File(s"$out/rc"), new File(s"$out/rc2"))
    FileUtils.moveFile(new File(s"$out/rc2/rc_meta.json"), new File(s"$out/rc2/rc2_meta.json"))
    val tilesBefore = Map("catalog" -> tiles("rc", "catalog"), "neighbor" -> tiles("rc", "neighbor"))
    HipsPartitioner.repartition(spark, out, "rc2")
    val truthIds = HipsCatalog.load(spark, out, "rc2")
      .select("_ID").collect().map(_.getLong(0)).sorted.toSeq

    // --- crash BEFORE the commit point: stage debris + tmp journal,
    // no journal. Recovery must discard it and touch nothing else.
    val junk = new File(s"$out/rc/_repartition_stage/catalog/Norder=9/Dir=0/Npix=7")
    junk.mkdirs()
    FileUtils.writeStringToFile(new File(junk, "part-junk.parquet"), "junk", "UTF-8")
    FileUtils.writeStringToFile(new File(s"$out/rc/_repartition_journal.json.tmp"), "{", "UTF-8")
    assert(!HipsPartitioner.recoverRepartition(spark, out, "rc"),
      "no journal => no pending commit to roll forward")
    assert(!new File(s"$out/rc/_repartition_stage").exists(), "pre-commit stage debris must be discarded")
    assert(!new File(s"$out/rc/_repartition_journal.json.tmp").exists())
    assert(tiles("rc", "catalog") == tilesBefore("catalog"), "pre-commit crash leaves the old layout authoritative")
    assert(HipsCatalog.load(spark, out, "rc").count() == li.count())

    // --- crash AFTER the commit point: reconstruct the committed state
    // (complete stage tree + journal, old dirs still live) from the
    // clean run's outputs, plus ONE staged dir already half-applied
    // (renamed in but journal not yet cleared — the mid-commit replay case)
    val stagedAll = Seq("catalog", "neighbor").flatMap { tree =>
      (tiles("rc2", tree) -- tilesBefore(tree)).toSeq.sorted.map { case (o, p) =>
        FileUtils.copyDirectory(
          new File(s"$out/rc2/$tree/Norder=$o/Dir=${dirOf(p)}/Npix=$p"),
          new File(s"$out/rc/_repartition_stage/$tree/Norder=$o/Dir=${dirOf(p)}/Npix=$p"))
        (tree, o, p)
      }
    }
    val splits = (tilesBefore("catalog") -- tiles("rc2", "catalog")).toSeq.sorted
    assert(stagedAll.nonEmpty && splits.nonEmpty, "the 8x growth must have split at least one tile")
    val (t0, o0, p0) = stagedAll.head
    FileUtils.copyDirectory(
      new File(s"$out/rc/_repartition_stage/$t0/Norder=$o0/Dir=${dirOf(p0)}/Npix=$p0"),
      new File(s"$out/rc/$t0/Norder=$o0/Dir=${dirOf(p0)}/Npix=$p0"))
    val journal =
      s"""{"summary_files": true,
         | "split": [${splits.map { case (o, p) => s"[$o,$p]" }.mkString(",")}],
         | "staged": [${stagedAll.map { case (t, o, p) => s"""["$t",$o,$p]""" }.mkString(",")}]}""".stripMargin
    FileUtils.writeStringToFile(new File(s"$out/rc/_repartition_journal.json"), journal, "UTF-8")
    // snapshot the crashed state for the append-after-crash case below
    FileUtils.copyDirectory(new File(s"$out/rc"), new File(s"$out/rc4"))
    FileUtils.moveFile(new File(s"$out/rc4/rc_meta.json"), new File(s"$out/rc4/rc4_meta.json"))

    assert(HipsPartitioner.recoverRepartition(spark, out, "rc"), "journal present => roll forward")
    assert(!new File(s"$out/rc/_repartition_journal.json").exists())
    assert(!new File(s"$out/rc/_repartition_stage").exists())
    for (tree <- Seq("catalog", "neighbor"))
      assert(tiles("rc", tree) == tiles("rc2", tree), s"recovered $tree layout must equal the clean run's")
    val rec = HipsCatalog.load(spark, out, "rc")
    assert(rec.count() == li.count(), "no duplicate rows after roll-forward")
    assert(rec.select("_ID").collect().map(_.getLong(0)).sorted.toSeq == truthIds)

    // import_hist was re-frozen: a follow-up repartition finds nothing
    val pmAfter = HipsPartitioner.repartition(spark, out, "rc")
    assert(tiles("rc", "catalog") == tiles("rc2", "catalog") && pmAfter.nSources == li.count())

    // --- append ONTO the crashed (journal-pending) state: append must
    // roll the commit forward FIRST, or its rows would land in the
    // doomed split dirs and be deleted by the eventual recovery
    HipsPartitioner.append(li.limit(97), "cra", "cdec", "k", out, "rc4")
    assert(!new File(s"$out/rc4/_repartition_journal.json").exists(),
      "append must complete the pending commit before writing")
    val afterAppend = HipsCatalog.load(spark, out, "rc4")
    assert(afterAppend.count() == li.count() + 97, "no appended row may be lost to the roll-forward")
    assert(afterAppend.select("_ID").distinct().count() == li.count() + 97)
    assert(tiles("rc4", "catalog") == tiles("rc2", "catalog"),
      "append lands under the RECOVERED refined layout")
    FileUtils.deleteDirectory(new File(out))
  }

  test("catalog compaction: append tails fold to one file per leaf, search + margin parity") {
    val out = java.nio.file.Files.createTempDirectory("graft_compactcat").toString
    HipsPartitioner.write(li.filter(col("k") % 2 === 0), "cra", "cdec", "k",
      out, "cc", orderK = 4, threshold = 500, marginDeg = 1.0)
    HipsPartitioner.append(li.filter(col("k") % 2 =!= 0), "cra", "cdec", "k", out, "cc")
    val cat = Catalog.open(spark, out, "cc")
    val beforeRows = cat.load().orderBy("_ID").collect().toSeq
    val cone0 = cat.coneSearch(180.0, 0.0, 30.0).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    val (done, nb, na) = cat.compact()
    assert(done > 0, "append must have left multi-file leaves to compact")
    assert(na < nb, s"file count must shrink: $nb -> $na")
    // one file per leaf at this data size
    assert(cat.compact()._1 == 0, "second compaction must be a no-op")
    assert(cat.load().orderBy("_ID").collect().toSeq == beforeRows,
      "compaction must preserve every row and the _ID order")
    val cone1 = cat.coneSearch(180.0, 0.0, 30.0).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(cone1 == cone0 && cone1.nonEmpty, "pruned search parity after compaction")
    // the summary sidecars were rewritten: they list the compacted
    // files, not the deleted append tails
    for (tree <- Seq("catalog", "neighbor")) {
      val (nFiles, nRows, _) = summaryStats(s"$out/cc/$tree")
      val partFiles = org.apache.commons.io.FileUtils
        .listFiles(new java.io.File(s"$out/cc/$tree"), Array("parquet"), true).size()
      assert(nRows == spark.read.parquet(s"$out/cc/$tree").count(), s"$tree: _metadata row total")
      assert(nFiles == partFiles, s"$tree: _metadata covers $nFiles files, tree has $partFiles")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("meta codec: a 1-arcsecond margin and the layout fields survive import, append and repartition") {
    val out = java.nio.file.Files.createTempDirectory("graft_meta").toString
    val margin = 1.0 / 3600
    val paths = CatalogFormat.Paths(out, "arc")
    val expected = CatalogFormat.Meta("cra", "cdec", "k", threshold = 200L, orderK = 4, marginDeg = margin)
    def check(step: String): Unit = {
      assert(CatalogFormat.readMeta(spark, paths) == expected, s"$step: codec")
      val cat = Catalog(spark, out, "arc")
      assert(cat.meta == expected, s"$step: Catalog.meta")
      assert((cat.raKw, cat.decKw, cat.idKw, cat.orderK) == (("cra", "cdec", "k", 4)), s"$step: accessors")
    }
    HipsPartitioner.write(li.filter(col("k") % 8 === 1), "cra", "cdec", "k", out, "arc",
      orderK = 4, threshold = 200, marginDeg = margin)
    // the margin is stored in exponent notation, the case a digits-only
    // number pattern misreads
    assert(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(paths.meta)), "UTF-8")
      .contains("E-4"))
    check("import")
    HipsPartitioner.append(li.filter(col("k") % 8 =!= 1), "cra", "cdec", "k", out, "arc")
    check("append")
    HipsPartitioner.repartition(spark, out, "arc")
    // the commit re-froze import_hist to the grown counts, so the meta
    // was rewritten by the repartition
    assert(CatalogFormat.readHist(spark, paths.importHist)._2.sum == li.count())
    check("repartition")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("catalog compaction walks only the hive trees: resumable-import staging is left alone") {
    val out = java.nio.file.Files.createTempDirectory("graft_compactstage").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_compactstage_src").toString
    val cust = spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .withColumn("cra", sphere.raOf(col("c_custkey")))
      .withColumn("cdec", sphere.decOf(col("c_custkey")))
    (0 until 2).foreach { i =>
      cust.filter(col("c_custkey") % 2 === i).coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/part$i")
    }
    // one batch of two source files: its staging leaf holds two part
    // files without `_ID`, which a walk over the whole catalog dir
    // would try to compact by `_ID`
    HipsPartitioner.writeResumable(spark, Seq(Seq(s"$srcDir/part0", s"$srcDir/part1")),
      files => spark.read.parquet(files: _*),
      "cra", "cdec", "c_custkey", out, "rs", orderK = 2, threshold = 100, marginDeg = 5.0)
    def stageFiles = new java.io.File(s"$out/rs/_import/stage/batch=0").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq
    val staged = stageFiles
    assert(staged.length > 1, "the batch must stage more than one file")
    val cat = Catalog(spark, out, "rs")
    val before = cat.load().orderBy("_ID").collect().toSeq
    assert(cat.compact()._1 == 0, "a fresh import has one file per leaf")
    assert(stageFiles == staged, "compaction must not touch the import staging")
    assert(cat.load().orderBy("_ID").collect().toSeq == before)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(srcDir))
  }

  /** (Spark jobs started, shuffle exchanges in the executed plans of
   *  write commands) while `body` runs. */
  private def planShape(body: => Unit): (Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val exchanges = new java.util.concurrent.atomic.AtomicInteger
    val plans = new AdaptiveSparkPlanHelper {}
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val writeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (plans.collectFirst(qe.executedPlan) { case w: DataWritingCommandExec => w }.isDefined)
          exchanges.addAndGet(plans.collectWithSubqueries(qe.executedPlan) {
            case e: ShuffleExchangeLike => e }.size)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBus.drain(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(writeListener)
    try body
    finally {
      org.apache.spark.graft.ListenerBus.drain(sc)
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(writeListener)
    }
    (jobs.get, exchanges.get)
  }

  test("plan shape: write and append start no more jobs or write-side shuffles than before") {
    val out = java.nio.file.Files.createTempDirectory("graft_shape").toString
    val (writeJobs, writeExchanges) = planShape(HipsPartitioner.write(li.filter(col("k") % 2 === 0),
      "cra", "cdec", "k", out, "shape", orderK = 4, threshold = 500, marginDeg = 1.0))
    val (appendJobs, appendExchanges) = planShape(HipsPartitioner.append(li.filter(col("k") % 2 =!= 0),
      "cra", "cdec", "k", out, "shape"))
    // ceilings measured on this input before the hive-tree writes were
    // shared: write 9 jobs / 2 shuffles (one repartition per tree),
    // append 20 jobs / 6 shuffles (per tree: the repartition, the rank
    // offsets aggregate and the repartition after the offset join)
    assert(writeJobs <= 9 && writeExchanges <= 2, s"write: $writeJobs jobs, $writeExchanges shuffles")
    assert(appendJobs <= 20 && appendExchanges <= 6, s"append: $appendJobs jobs, $appendExchanges shuffles")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("ingest path is UDF-free and stays inside WholeStageCodegen") {
    val pm = HipsPartitioner.computePartitionMap(li, "cra", "cdec", orderK = 4, threshold = 500)
    val assignPlan = HipsPartitioner.withPartitionColumns(li, "cra", "cdec", pm)
      .queryExecution.executedPlan.toString
    assert(!assignPlan.contains("UDF"), s"partition assignment must not use a Scala UDF:\n$assignPlan")
    assert(assignPlan.contains("*("), s"assignment must be inside a WholeStageCodegen stage:\n$assignPlan")
    val marginPlan = HipsPartitioner.marginRows(li, "cra", "cdec", pm, marginDeg = 1.0)
      .queryExecution.executedPlan.toString
    assert(!marginPlan.contains("UDF"), s"margin explode must not use a Scala UDF:\n$marginPlan")
  }

  test("margin cache: rows land under foreign pixels within the margin") {
    val pm = HipsPartitioner.computePartitionMap(li, "cra", "cdec", orderK = 4, threshold = 500)
    val margins = HipsPartitioner.marginRows(li, "cra", "cdec", pm, marginDeg = 1.0)
    val own = HipsPartitioner.withPartitionColumns(li, "cra", "cdec", pm)
      .select(col("k"), col("Norder"), col("Npix"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val rows = margins.select("k", "Norder", "Npix").collect()
    assert(rows.nonEmpty, "some rows must fall within 1 deg of a foreign pixel")
    rows.foreach { r =>
      assert(own(r.getLong(0)) != (r.getInt(1), r.getLong(2)), "margin pixel must differ from home pixel")
    }
  }

  test("exactMargin: trims the disc-cover superset to the true boundary band (reduction + band membership)") {
    val pm = HipsPartitioner.computePartitionMap(li, "cra", "cdec", orderK = 4, threshold = 500)
    val margin = 1.0
    def rows(exact: Boolean) =
      HipsPartitioner.marginRows(li, "cra", "cdec", pm, margin, exactMargin = exact)
        .select("k", "cra", "cdec", "Norder", "Npix")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getInt(3), r.getLong(4)))
    val loose = rows(exact = false)
    val tight = rows(exact = true)
    // the exact band is a strict subset at this coarse geometry (the
    // r10 verdict's storage complaint: coarse orders replicate whole
    // covered tiles; a 1-deg band around an order-4 (~7 deg) pixel is
    // a fraction of its area)
    assert(tight.length < loose.length,
      s"exact trim must shrink the margin set: ${tight.length} !< ${loose.length}")
    assert(tight.toSet.subsetOf(loose.toSet), "exact rows must come from the superset")
    // band membership is exactly the distance predicate, both ways
    val tightSet = tight.toSet
    loose.foreach { case t @ (_, ra, dec, o, pix) =>
      val d = graft.healpix.Healpix.distToPixelDeg(o, pix, ra, dec)
      if (tightSet(t)) assert(d <= margin + 1e-3, s"kept row at dist $d > $margin: $t")
      else assert(d > margin - 1e-3, s"dropped row at dist $d <= $margin: $t")
    }
  }

  test("exactMargin: polar stored cross-match still equals brute force with trimming on") {
    // the adversarial polar/seam geometry of the parity test above,
    // imported with exactMargin = true on both sides — trimming must
    // never lose a margin row a k-NN within dthresh needs
    // (marginDeg >= dthresh is the documented contract)
    import spark.implicits._
    val dthresh = 0.15
    def wrap(ra: Double): Double = (ra % 360.0 + 360.0) % 360.0
    val left = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    var id = 5000L
    for (sign <- Seq(1, -1); (dec, step) <- Seq((88.5, 30), (89.95, 90)); ra <- 0 until 360 by step) {
      left += ((id, ra.toDouble, sign * dec)); id += 1
    }
    for (dec <- Seq(-45.0, 0.0, 45.0); ra <- Seq(359.95, 0.02)) { left += ((id, ra, dec)); id += 1 }
    val right = left.map { case (i, ra, dec) => (i + 100000L, wrap(ra + 0.08), dec) }
    val lDf = left.toSeq.toDF("lid", "lra", "ldec")
    val rDf = right.toSeq.toDF("rid", "rra", "rdec")
    val out = java.nio.file.Files.createTempDirectory("graft_exactm").toString
    HipsPartitioner.write(lDf, "lra", "ldec", "lid", out, "pl", orderK = 4, threshold = 4,
      marginDeg = 0.2, exactMargin = true)
    HipsPartitioner.write(rDf, "rra", "rdec", "rid", out, "pr", orderK = 4, threshold = 4,
      marginDeg = 0.2, exactMargin = true)
    val brute = lDf.crossJoin(rDf)
      .withColumn("d", sphere.gcDist(col("lra"), col("ldec"), col("rra"), col("rdec")))
      .filter(col("d") < dthresh)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val stored = HipsCatalog.crossMatchStored(spark, out, "pl", "pr",
      "lra", "ldec", "lid", "rra", "rdec", "rid", k = 10, dthreshDeg = dthresh, orderK = 4)
      .select("lid", "r_rid").as[(Long, Long)].collect().toSet
    assert(stored == brute,
      s"exact-margin stored cross-match lost ${(brute -- stored).size} matches " +
        s"(extra: ${(stored -- brute).size})")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }
}
