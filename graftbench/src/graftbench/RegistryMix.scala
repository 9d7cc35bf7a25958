package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import Workload.{med, op, span}

/**
 * registry_mix: six registry queries over the committed sf0.01 tables,
 * in a seeded order per pass. They cover the Rank consumers and the short
 * queries bound by the per-task floor; none of them touches a stored
 * catalog.
 */
final class RegistryMix(ctx: Ctx, dataDir: String, fingerprintFile: java.nio.file.Path) extends Workload {
  private val spark = ctx.spark
  private val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val all = graft.SparkEntry.queries
    val missing = RegistryMix.names.filterNot(all.contains)
    require(missing.isEmpty, s"registry has no queries named ${missing.mkString(", ")}")
    RegistryMix.names.map(n => n -> all(n)).toMap
  }
  private val expected: Map[String, (Long, String)] = RegistryMix.readFingerprints(fingerprintFile)
  /** Fingerprints of the set-up pass, and the row counts of the timed runs. */
  private val observed = scala.collection.mutable.LinkedHashMap.empty[String, (Long, String)]
  private val counts = scala.collection.mutable.Map.empty[String, Set[Long]]
  private var setupOps = Seq.empty[OpRec]

  /** Opening the tables: the only input this workload builds. */
  def buildInputs(tr: Option[Tracer]): Unit =
    RegistryMix.tables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").schema)

  /** One untimed pass that fingerprints each query's whole output, then
   *  untimed warm-up passes, so that the timed runs find the queries' code
   *  compiled and the JIT settled. */
  def prepare(tr: Option[Tracer]): Unit = {
    val fps = RegistryMix.names.map { n =>
      val rec = op(tr, n, n) {
        observed(n) = Checks.fingerprint(span(tr, "registry.build", "registry")(queries(n)(spark, dataDir)))
      }
      spark.sharedState.cacheManager.clearCache()
      rec
    }
    val warm = (1 to RegistryMix.warmPasses).flatMap(p => RegistryMix.order(ctx.seed, -p).map(runQuery(None, _)))
    setupOps = fps ++ warm
  }

  override def setupPass: Seq[OpRec] = setupOps

  def fingerprints: Map[String, (Long, String)] = observed.toMap

  /** One timed run: the plan built and counted, as graft.Bench does. */
  private def runQuery(tr: Option[Tracer], n: String): OpRec = {
    val rec = op(tr, n, n) {
      val df = span(tr, "registry.build", "registry")(queries(n)(spark, dataDir))
      val c = span(tr, "driver.action", "driver")(df.count())
      counts(n) = counts.getOrElse(n, Set.empty) + c
    }
    // a query's persisted intermediates must not serve its next run
    spark.sharedState.cacheManager.clearCache()
    rec
  }

  def run(budgetS: Double, tr: Option[Tracer], plan: Option[Seq[String]]): Pass = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val ops = scala.collection.mutable.ArrayBuffer.empty[OpRec]
    plan match {
      case Some(keys) => keys.foreach(k => ops += runQuery(tr, k))
      case None =>
        var pass = 0
        while (elapsed < budgetS || pass < RegistryMix.minPasses) {
          RegistryMix.order(ctx.seed, pass).foreach(n => ops += runQuery(tr, n))
          pass += 1
        }
    }
    Pass(ops.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** A query is wrong when its fingerprint differs from the committed one,
   *  or when a timed run counted another number of rows. */
  def check(pass: Pass): (Seq[String], Set[String]) = {
    val wrong = RegistryMix.names.filter { n =>
      val want = expected.get(n)
      !observed.get(n).exists(want.contains) || !counts.getOrElse(n, Set.empty).forall(c => want.exists(_._1 == c))
    }
    (wrong.map(n => s"$n: fingerprint ${observed.get(n).fold("(failed)")(_.toString)}, " +
      s"timed row counts ${counts.getOrElse(n, Set.empty).mkString(",")}, expected ${expected.get(n)}"), wrong.toSet)
  }

  /** The traced pass replays the first timed pass. */
  override def replay(timed: Pass): Seq[OpRec] = timed.ops.take(RegistryMix.names.size)

  private def medians(pass: Pass): Seq[Double] = RegistryMix.names.map(n => med(pass.secsOf(n)))

  def endToEnd(pass: Pass): (Double, Double) = (geomean(pass), medians(pass).sum)

  private def geomean(pass: Pass): Double = Stats.geomean(medians(pass).map(math.max(_, 1e-6)))

  def report(pass: Pass): Map[String, Double] = Map(
    "registry_total_s" -> medians(pass).sum,
    "registry_geomean_s" -> geomean(pass))

  def layers(timed: Pass, traced: Pass, tr: Tracer): Map[String, Double] = {
    val perQuery = RegistryMix.names.flatMap { n =>
      val os = traced.of(n).map(_.traceOp)
      def m(f: Int => Double) = med(os.map(f))
      Seq(
        s"registry.$n.wall_s" -> med(timed.secsOf(n)),
        s"registry.$n.jobs" -> m(o => tr.jobsOf(Set(o)).toDouble),
        s"registry.$n.tasks" -> m(o => tr.tasksOf(Set(o)).size.toDouble),
        s"registry.$n.exchanges" -> m(o => tr.qesOf(Set(o)).map(_.exchanges).sum.toDouble))
    }
    val all = traced.ops.map(_.traceOp).toSet
    val passes = math.max(1.0, traced.ops.size.toDouble / RegistryMix.names.size)
    val tasks = tr.tasksOf(all)
    val wall = traced.ops.map(_.secs).sum
    perQuery.toMap ++ Map(
      "registry.plan_build_s" -> RegistryMix.names.map(n =>
        med(traced.of(n).map(o => tr.secs(Set(o.traceOp), "registry.build")))).sum,
      "registry.sched_delay_share" ->
        Stats.schedDelayShare(tasks.map(_.schedDelayMs).sum / 1000.0, ctx.cpus, wall),
      "registry.exec_run_s" -> tasks.map(_.runMs).sum / 1000.0 / passes,
      "registry.shuffle_bytes" -> tasks.map(_.shuffleWriteBytes).sum / passes,
      "registry.spill_bytes" -> tasks.map(_.spillBytes).sum / passes)
  }
}

object RegistryMix {
  /** Two Rank consumers, three of the short queries bound by the per-task
   *  floor, and the TPC-H Q1 aggregate. */
  val names: Seq[String] = Seq(
    "q_twopoint", "q_exact_quantiles", "q_coverage", "q20_potential",
    "q_profile", "q1_agg")

  /** The tables the queries read. */
  val tables: Seq[String] = Seq("customer", "events", "lineitem", "part", "supplier")

  /** Untimed passes after the fingerprint pass: the first timed passes
   *  after it still ran up to twice as slow as the later ones. */
  val warmPasses = 2

  /** Fewest timed passes, whatever the budget, so that each query's
   *  median rests on at least this many runs. */
  val minPasses = 5

  /** The query order of one pass: a seeded shuffle. */
  def order(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  def readFingerprints(p: java.nio.file.Path): Map[String, (Long, String)] = {
    val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    """"([\w]+)"\s*:\s*\{\s*"rows"\s*:\s*(\d+)\s*,\s*"hash"\s*:\s*"(-?\d+)"\s*\}""".r
      .findAllMatchIn(txt).map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }

  def fingerprintJson(fps: Map[String, (Long, String)]): String =
    names.filter(fps.contains).map { n =>
      val (r, h) = fps(n)
      s"""  "$n": {"rows": $r, "hash": "$h"}"""
    }.mkString("{\n", ",\n", "\n}\n")
}
