package graftbench

import java.nio.file.Paths
import org.apache.spark.sql.functions._

/**
 * Checks of the benchmark's own pieces (`python3 graftbench/run.py --selftest`):
 * seeded inputs, the tail-percentile rule, the scheduler-delay arithmetic,
 * and the order-insensitive fingerprint. Exits 1 on the first failure list.
 */
object SelfTest {
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += name
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args.headOption.getOrElse("selftest-work")).toAbsolutePath

    check("same seed gives the same survey, batch, second catalog and searches") {
      val a = Survey.survey(7, 2000)
      a.sameElements(Survey.survey(7, 2000)) &&
        Survey.appendBatch(7, 300).sameElements(Survey.appendBatch(7, 300)) &&
        Survey.perturbed(7, a, 0.5).sameElements(Survey.perturbed(7, Survey.survey(7, 2000), 0.5)) &&
        Survey.searches(7, 200) == Survey.searches(7, 200)
    }
    check("a different seed gives different inputs") {
      !Survey.survey(7, 2000).sameElements(Survey.survey(8, 2000)) &&
        !Survey.appendBatch(7, 300).sameElements(Survey.appendBatch(8, 300)) &&
        Survey.searches(7, 200) != Survey.searches(8, 200)
    }
    check("the survey mixes band, clusters and background, and stays on the sphere") {
      val a = Survey.survey(3, 20000)
      val byCls = a.groupBy(_.cls).map { case (k, v) => k -> v.length }
      a.forall(s => s.ra >= 0 && s.ra < 360 && s.dec >= -90 && s.dec <= 90) &&
        byCls.keySet == Set(0, 1, 2) && byCls.values.forall(_ > 3000)
    }
    check("searches revisit earlier regions and span the radius range") {
      val ss = Survey.searches(5, 1000)
      val radii = ss.collect { case c: Survey.Cone => c.radius }
      ss.map(_.key).distinct.size < ss.size * 0.9 &&
        radii.min >= Survey.minRadiusDeg && radii.max <= Survey.maxRadiusDeg &&
        radii.count(_ < 0.1) > 50 && radii.count(_ > 1.0) > 50
    }

    check("tail rule: the highest percentile with at least 10 samples beyond it") {
      (20 to 400).forall { n =>
        val xs = (1 to n).map(_.toDouble)
        val p = Stats.tailPercentile(n)
        val v = Stats.percentile(xs, p)
        val beyond = xs.count(_ > v)
        val nextBeyond = if (p == 99) 0 else xs.count(_ > Stats.percentile(xs, p + 1))
        beyond >= 10 && (p == 99 || nextBeyond < 10)
      } && Stats.tailPercentile(100) == 90 && Stats.tailPercentile(15) == 50 &&
        Stats.percentile((1 to 100).map(_.toDouble), 90) == 90.0
    }
    check("median and geomean") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5 &&
        math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12
    }
    check("scheduler delay is the task time left after run, deserialize, serialize and fetch") {
      Stats.schedulerDelayMs(100, 60, 10, 5, 5) == 20 &&
        Stats.schedulerDelayMs(50, 60, 0, 0, 0) == 0 &&
        Stats.schedulerDelayMs(7, 0, 0, 0, 0) == 7 &&
        Stats.schedDelayShare(4.0, 4, 2.0) == 0.5 && Stats.schedDelayShare(1.0, 4, 0.0) == 0.0
    }
    check("a search result within the edge tolerance is accepted, any other miss is not") {
      Checks.searchOk((10, 55), (10, 55, 0)) && !Checks.searchOk((10, 54), (10, 55, 0)) &&
        Checks.searchOk((11, 99), (10, 55, 2)) && !Checks.searchOk((13, 99), (10, 55, 2)) &&
        !Checks.searchOk((9, 50), (10, 55, 2))
    }

    val benchJson = Paths.get("BENCHMARK.json")
    if (java.nio.file.Files.exists(benchJson)) check("BENCHMARK.json lists the metrics the benchmark prints") {
      val txt = new String(java.nio.file.Files.readAllBytes(benchJson), "UTF-8")
      val (e2e, layers) = txt.splitAt(txt.indexOf("\"per_layer\""))
      def entries(t: String) = """"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)"""".r
        .findAllMatchIn(t).map(m => m.group(1) -> m.group(2)).toSeq
      entries(layers) == LayerMetrics.all && entries(e2e) == Main.endToEnd
    }

    val spark = Main.session(work, 2)
    try {
      import spark.implicits._
      val rows = (1 to 500).map(i => (i.toLong, i * 0.1, if (i % 7 == 0) null else s"r$i", Seq(i, i + 1)))
      val df = rows.toDF("id", "x", "s", "arr")
      check("fingerprint ignores row order and partitioning") {
        val f = Checks.fingerprint(df)
        f == Checks.fingerprint(df.orderBy(rand(3))) && f == Checks.fingerprint(df.repartition(7)) &&
          f._1 == 500
      }
      check("fingerprint sees a changed value, a dropped row and a duplicated row") {
        val f = Checks.fingerprint(df)
        f != Checks.fingerprint(df.withColumn("x", when(col("id") === 3, 0.7).otherwise(col("x")))) &&
          f != Checks.fingerprint(df.filter(col("id") =!= 4)) &&
          f != Checks.fingerprint(df.union(df.filter(col("id") === 4)).filter(col("id") =!= 5))
      }
      check("brute-force membership agrees with a driver-side distance on a cone") {
        val pts = Survey.survey(11, 3000)
        val cone = Survey.Cone(pts(0).ra, pts(0).dec, 5.0)
        val want = pts.count(p => graft.healpix.Healpix.gcDistDeg(p.ra, p.dec, cone.ra, cone.dec) < 5.0)
        val got = Checks.bruteForce(pts.toSeq.toDF(), Seq(cone))(cone.key)
        got._1 <= want && want <= got._1 + got._3
      }
    } finally spark.stop()

    if (failures.nonEmpty) {
      println(s"${failures.size} self-test(s) failed")
      sys.exit(1)
    }
    println("all self-tests passed")
  }
}
