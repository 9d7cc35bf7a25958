package graftbench

import graft.catalog.{Catalog, HipsCatalog, HipsPartitioner}
import graft.healpix.Healpix
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Workload.{med, op, span}

/**
 * catalog_query: the stored-catalog path end to end. Set-up imports the
 * generated survey and a perturbed copy of part of it, appends a second
 * seeded batch to the copy, and checks every written catalog. The timed
 * loop runs a seeded mix of cone, box and polygon searches on the survey,
 * then the stored k=1 cross-match of the two catalogs.
 */
final class CatalogQuery(ctx: Ctx) extends Workload {
  import CatalogQuery._
  private val srcA = ctx.dir("src/survey")
  private val srcB = ctx.dir("src/pert")
  private val srcBatch = ctx.dir("src/batch")
  private val location = ctx.dir("catalogs")
  private val searches = Survey.searches(ctx.seed, 4000)
  private lazy val catA = Catalog(ctx.spark, location, "survey")
  private lazy val catB = Catalog(ctx.spark, location, "pert")
  private val searchResults = scala.collection.mutable.Map.empty[String, Seq[(Long, Long)]]
  private val xmatchResults = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
  private val resultRows = scala.collection.mutable.Map.empty[Int, Long]
  /** Share of the budget spent on searches; the rest goes to cross-matches. */
  private val searchShare = 0.6
  /** Fewest searches and cross-matches a pass runs, whatever the budget:
   *  enough for steady medians and for a tail above the median. */
  private val minSearches = 30
  private val minXmatches = 5
  /** Untimed warm-up in set-up: with one search of each kind and one
   *  cross-match, the first timed ones still ran 30-50% slower than the
   *  last. */
  private val warmSearches = 24
  private val warmXmatches = 2
  private var rowsB = 0L
  /** The set-up operations: import of the survey, import of the copy, append. */
  private var setupOps = Seq.empty[OpRec]
  private var setupLayers = Map.empty[String, Double]
  private var setupErrors = Seq.empty[(String, String)]

  def buildInputs(tr: Option[Tracer]): Unit = {
    val a = Survey.survey(ctx.seed, rows)
    val b = Survey.perturbed(ctx.seed, a, matchShare)
    rowsB = b.length
    writeSource(ctx, a, srcA)
    writeSource(ctx, b, srcB)
    writeSource(ctx, Survey.appendBatch(ctx.seed, appendRows), srcBatch)
  }

  /** Builds and checks both catalogs, then runs untimed searches and
   *  cross-matches until the JIT has mostly settled. */
  def prepare(tr: Option[Tracer]): Unit = {
    var pm: Option[HipsPartitioner.PartitionMap] = None
    val impA = op(tr, "import", "survey") {
      pm = importCatalog(ctx, tr, srcA, location, "survey")
    }
    val impB = op(tr, "import", "pert")(importCatalog(ctx, tr, srcB, location, "pert"))
    val filesB = files(location, "pert")
    val app = op(tr, "append", "pert")(append(ctx, tr, srcBatch, location, "pert"))
    setupOps = Seq(impA, impB, app)
    System.err.println("[graftbench] set-up " + setupOps.map(o => f"${o.kind} ${o.key} ${o.secs}%.2f s").mkString(", "))
    setupErrors =
      Checks.ingest(catA, rows, col("id") < 1000000000L, threshold).map("survey" -> _) ++
        Checks.ingest(catB, rowsB + appendRows, col("id") >= 2000000000L, threshold).map("pert" -> _)
    tr.foreach { t =>
      setupLayers = ingestLayers(t, impA.traceOp, app.traceOp, pm.get,
        files(location, "survey"), files(location, "pert") - filesB,
        marginRatio(ctx, location, "survey"))
    }
    Survey.searches(ctx.seed + 7, warmSearches).foreach(s => searchOp(None, s, -1))
    (1 to warmXmatches).foreach(i => xmatch(None, -i))
  }

  private def coverArgs(s: Survey.Search): (Double, Double, Double) = s match {
    case Survey.Cone(ra, dec, r) => (ra, dec, r)
    case Survey.Box(lo, hi, dlo, dhi) =>
      val width = if (lo <= hi) hi - lo else 360.0 - lo + hi
      (((lo + width / 2) % 360.0), (dlo + dhi) / 2, math.min(180.0, (dhi - dlo) / 2 + width / 2))
    case Survey.Polygon(vs) =>
      val c = vs.map { case (a, d) => Survey.toVec(a, d) }
        .reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
      val (ra, dec) = Survey.toRaDec(c)
      (ra, dec, vs.map { case (a, d) => Healpix.gcDistDeg(ra, dec, a, d) }.max * 1.001)
  }

  private def search(tr: Option[Tracer], i: Int): OpRec = searchOp(tr, searches(i), i)

  private def searchOp(tr: Option[Tracer], s: Survey.Search, i: Int): OpRec =
    op(tr, "search", i.toString) {
      val df: DataFrame = span(tr, "catalog.open", "catalog") {
        s match {
          case Survey.Cone(ra, dec, r) => catA.coneSearch(ra, dec, r)
          case Survey.Box(lo, hi, dlo, dhi) => catA.boxSearch(lo, hi, dlo, dhi)
          case Survey.Polygon(vs) => catA.polygonSearch(vs)
        }
      }
      val row = span(tr, "driver.action", "driver") {
        df.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L))).head()
      }
      val got = (row.getLong(0), row.getLong(1))
      resultRows(i) = got._1
      searchResults(s.key) = searchResults.getOrElse(s.key, Nil) :+ got
      if (tr.isDefined) span(tr, "healpix.queryDiscCover", "healpix") {
        val (ra, dec, r) = coverArgs(s)
        val discFrac = (1 - math.cos(math.toRadians(math.min(r, 180.0)))) / 2
        val order = (0 to orderK).reverse.find(o => discFrac * Healpix.npix(o) <= 8192 || o == 0).get
        Healpix.queryDiscCover(order, ra, dec, r)
      }
    }

  private def xmatch(tr: Option[Tracer], i: Int): OpRec =
    op(tr, "xmatch", s"x$i") {
      if (tr.isDefined) span(tr, "catalog.partitionGrid", "catalog") {
        HipsCatalog.partitionGrid(ctx.spark, location, "pert", orderK)
      }
      val df = span(tr, "catalog.crossMatch", "catalog")(catA.crossMatch(catB, 1, dthreshDeg))
      val row = span(tr, "driver.action", "driver") {
        df.agg(count(lit(1)), coalesce(sum(col("_DIST")), lit(0.0))).head()
      }
      xmatchResults += ((row.getLong(0), row.getDouble(1)))
    }

  def run(budgetS: Double, tr: Option[Tracer], plan: Option[Seq[String]]): Pass = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val ops = scala.collection.mutable.ArrayBuffer.empty[OpRec]
    plan match {
      case Some(keys) =>
        keys.foreach { k =>
          ops += (if (k.startsWith("x")) xmatch(tr, k.tail.toInt) else search(tr, k.toInt))
        }
      case None =>
        var i = 0
        while ((elapsed < budgetS * searchShare || i < minSearches) && i < searches.size) {
          ops += search(tr, i); i += 1
        }
        var x = 0
        while (elapsed < budgetS || x < minXmatches) { ops += xmatch(tr, x); x += 1 }
    }
    Pass(ops.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  def check(pass: Pass): (Seq[String], Set[String]) = {
    val spark = ctx.spark
    val done = pass.of("search").map(o => searches(o.key.toInt)).groupBy(_.key).map(_._2.head).toSeq
    val want = Checks.bruteForce(spark.read.parquet(srcA), done)
    val badSearch = done.flatMap { s =>
      val gots = searchResults.getOrElse(s.key, Nil).distinct
      if (gots.size == 1 && Checks.searchOk(gots.head, want(s.key))) None
      else Some(s.key -> s"${s.key}: got ${gots.mkString(",")}, brute force ${want(s.key)}")
    }
    // the copy holds its own rows plus the appended batch
    val ref = graft.operators.Spatial.crossMatchKnn(spark.read.parquet(srcA),
        spark.read.parquet(srcB).unionByName(spark.read.parquet(srcBatch)),
        "ra", "dec", "id", "ra", "dec", "id", 1, dthreshDeg)
      .agg(count(lit(1)), coalesce(sum(col("_DIST")), lit(0.0))).head()
    val (rn, rs) = (ref.getLong(0), ref.getDouble(1))
    val badX = xmatchResults.distinct.toSeq.flatMap { case (n, s) =>
      if (n == rn && math.abs(s - rs) <= 1e-9 * math.max(1.0, math.abs(rs))) None
      else Some(s"cross-match: got ($n, $s), in-flight crossMatchKnn ($rn, $rs)")
    }
    val badKeys = badSearch.map(_._1).toSet
    val wrong = pass.ops.filter(o =>
      (o.kind == "search" && badKeys(searches(o.key.toInt).key)) || (o.kind == "xmatch" && badX.nonEmpty)).map(_.key).toSet
    (setupErrors.map { case (k, m) => s"$k: $m" } ++ badSearch.map(_._2) ++ badX,
      wrong ++ setupErrors.map(_._1))
  }

  override def setupPass: Seq[OpRec] = setupOps

  /** The traced pass replays the first searches and two cross-matches. */
  override def replay(timed: Pass): Seq[OpRec] = timed.of("search").take(20) ++ timed.of("xmatch").take(2)

  def endToEnd(pass: Pass): (Double, Double) =
    (med(pass.secsOf("search")), med(pass.secsOf("xmatch")))

  /** The tail percentile this pass reports, its sample count and value. */
  private def tail(pass: Pass): (Int, Int, Double) = {
    val xs = pass.secsOf("search")
    val p = Stats.tailPercentile(xs.size)
    (p, xs.size, Stats.percentile(xs, p))
  }

  def report(pass: Pass): Map[String, Double] = {
    val (p, n, t) = tail(pass)
    val srcBytes = Workload.parquetSize(srcA)._1
    val stored = Workload.parquetSize(s"$location/survey/catalog")._1 +
      Workload.parquetSize(s"$location/survey/neighbor")._1
    Map(
      "ingest_rows_per_s" -> rows / setupOps.head.secs,
      "append_rows_per_s" -> appendRows / setupOps(2).secs,
      "stored_bytes_ratio" -> stored.toDouble / srcBytes,
      "search_p50_s" -> med(pass.secsOf("search")),
      "search_tail_s" -> t,
      "search_tail_percentile" -> p.toDouble,
      "search_samples" -> n.toDouble,
      "xmatch_s" -> med(pass.secsOf("xmatch")))
  }

  def layers(timed: Pass, traced: Pass, tr: Tracer): Map[String, Double] = {
    val so = traced.of("search").map(_.traceOp)
    val xo = traced.of("xmatch").map(_.traceOp)
    def perOp(ops: Seq[Int])(f: Int => Double) = med(ops.map(f))
    val qs = so.map(o => tr.qesOf(Set(o)))
    val scanRows = qs.map(_.map(_.scanRows).sum).sum.toDouble
    val results = traced.of("search").map(o => resultRows(o.key.toInt)).sum.toDouble
    val xq = xo.map(o => tr.qesOf(Set(o)))
    val candidates = med(xq.map(_.map(_.joinRows).sum.toDouble))
    val matches = med(xmatchResults.map(_._1.toDouble).toSeq)
    val xTasks = tr.tasksOf(xo.toSet)
    val durs = xTasks.map(_.durationMs.toDouble)
    setupLayers ++ Map(
      "search.open_s" -> perOp(so)(o => tr.secs(Set(o), "catalog.open")),
      "search.open_jobs_per_op" -> perOp(so)(o => tr.jobsUnder(Set(o), "catalog.open").toDouble),
      "search.exec_s" -> perOp(so)(o => tr.secs(Set(o), "driver.action")),
      "search.jobs_per_op" -> perOp(so)(o => tr.jobsUnder(Set(o), "catalog.open").toDouble +
        tr.jobsUnder(Set(o), "driver.action")),
      "search.tasks_per_op" -> perOp(so)(o => tr.tasksUnder(Set(o), "catalog.open").size.toDouble +
        tr.tasksUnder(Set(o), "driver.action").size),
      "search.files_read_per_op" -> med(qs.map(_.map(_.filesRead).sum.toDouble)),
      "search.scan_rows_per_result_row" -> scanRows / math.max(1.0, results),
      "search.cover_s" -> perOp(so)(o => tr.secs(Set(o), "healpix.queryDiscCover")),
      "search.optimize_s" -> perOp(so)(o => tr.phaseSecs(Set(o), "optimization")),
      "search.planning_s" -> perOp(so)(o => tr.phaseSecs(Set(o), "planning")),
      "xmatch.grid_s" -> perOp(xo)(o => tr.secs(Set(o), "catalog.partitionGrid")),
      "xmatch.candidate_pairs" -> candidates,
      "xmatch.match_yield" -> (if (candidates > 0) matches / candidates else 0.0),
      "xmatch.shuffle_bytes" -> perOp(xo)(o => tr.tasksOf(Set(o)).map(_.shuffleWriteBytes).sum.toDouble),
      "xmatch.spill_bytes" -> perOp(xo)(o => tr.tasksOf(Set(o)).map(_.spillBytes).sum.toDouble),
      "xmatch.exec_run_s" -> perOp(xo)(o => tr.tasksOf(Set(o)).map(_.runMs).sum / 1000.0),
      "xmatch.sched_delay_s" -> perOp(xo)(o => tr.tasksOf(Set(o)).map(_.schedDelayMs).sum / 1000.0),
      "xmatch.jobs" -> perOp(xo)(o => tr.jobsOf(Set(o)).toDouble),
      "xmatch.tasks" -> perOp(xo)(o => tr.tasksOf(Set(o)).size.toDouble),
      "xmatch.task_skew" -> (if (durs.isEmpty) 0.0 else durs.max / math.max(1.0, Stats.median(durs))))
  }
}

object CatalogQuery {
  // sizes of the generated survey and of the catalogs built from it
  val rows = 20000
  val appendRows = 4000
  val matchShare = 0.3
  val orderK = 7
  val threshold = 2000L
  val marginDeg = 0.05
  val dthreshDeg = 0.01

  def writeSource(ctx: Ctx, rows: Array[Survey.Src], path: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    spark.sparkContext.parallelize(rows.toSeq, ctx.cpus).toDS()
      .write.mode("overwrite").parquet(path)
  }

  /** Imports `src` as catalog `name` under `location`. In the traced pass
   *  the partition map is also computed as its own call first. Returns
   *  the partition map when traced. */
  def importCatalog(ctx: Ctx, tr: Option[Tracer], src: String, location: String,
                    name: String): Option[HipsPartitioner.PartitionMap] = {
    val df = ctx.spark.read.parquet(src)
    val pm = tr.map(_ => span(tr, "catalog.computePartitionMap", "catalog") {
      HipsPartitioner.computePartitionMap(df, "ra", "dec", orderK, threshold)
    })
    span(tr, "catalog.importFrom", "catalog") {
      Catalog.importFrom(df, location, name, "ra", "dec", "id", orderK, threshold, marginDeg)
    }
    pm
  }

  def append(ctx: Ctx, tr: Option[Tracer], src: String, location: String, name: String): Unit =
    span(tr, "catalog.append", "catalog") {
      Catalog(ctx.spark, location, name).append(ctx.spark.read.parquet(src))
    }

  /** Largest tile's import rows divided by the threshold. */
  def maxTileRatio(pm: HipsPartitioner.PartitionMap): Double = {
    val perTile = scala.collection.mutable.Map.empty[(Int, Long), Long]
    pm.histPix.indices.foreach { i =>
      val o = pm.grid.order(pm.histPix(i))
      val k = (o, pm.histPix(i) >> (2 * (pm.orderK - o)))
      perTile(k) = perTile.getOrElse(k, 0L) + pm.histCnt(i)
    }
    perTile.values.max.toDouble / threshold
  }

  /** Per-layer counters of one traced import and one traced append. */
  def ingestLayers(tr: Tracer, importOp: Int, appendOp: Int, pm: HipsPartitioner.PartitionMap,
                   files: Int, appendFiles: Int, marginRatio: Double): Map[String, Double] = {
    val mapS = tr.secs(Set(importOp), "catalog.computePartitionMap")
    val tasks = tr.tasksUnder(Set(importOp), "catalog.importFrom")
    Map(
      "ingest.jobs" -> tr.jobsUnder(Set(importOp), "catalog.importFrom").toDouble,
      "ingest.tasks" -> tasks.size.toDouble,
      "ingest.sched_delay_s" -> tasks.map(_.schedDelayMs).sum / 1000.0,
      "ingest.exec_run_s" -> tasks.map(_.runMs).sum / 1000.0,
      "ingest.shuffle_write_bytes" -> tasks.map(_.shuffleWriteBytes).sum.toDouble,
      "ingest.spill_bytes" -> tasks.map(_.spillBytes).sum.toDouble,
      "ingest.partition_map_s" -> mapS,
      "ingest.write_s" -> math.max(0.0, tr.secs(Set(importOp), "catalog.importFrom") - mapS),
      "ingest.tiles" -> pm.grid.nTiles.toDouble,
      "ingest.files_written" -> files.toDouble,
      "ingest.max_tile_rows_ratio" -> maxTileRatio(pm),
      "ingest.margin_rows_ratio" -> marginRatio,
      "append.s" -> tr.secs(Set(appendOp), "catalog.append"),
      "append.jobs" -> tr.jobsUnder(Set(appendOp), "catalog.append").toDouble,
      "append.files_written" -> appendFiles.toDouble)
  }

  def files(location: String, name: String): Int =
    Workload.parquetSize(s"$location/$name/catalog")._2 + Workload.parquetSize(s"$location/$name/neighbor")._2

  def marginRatio(ctx: Ctx, location: String, name: String): Double = {
    val c = HipsCatalog.load(ctx.spark, location, name).count()
    HipsCatalog.loadNeighbors(ctx.spark, location, name).count().toDouble / math.max(1L, c)
  }
}
