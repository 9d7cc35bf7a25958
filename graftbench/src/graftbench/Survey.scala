package graftbench

import java.util.SplittableRandom

/**
 * Seeded synthetic survey: a dense tilted band, tight clusters and a
 * uniform background. The skew is what makes the adaptive partitioner
 * produce tiles from order 0 (background-only sky) down to orderK
 * (the cores of the richest clusters). Everything is derived from the seed alone, so the
 * same seed gives the same rows, batches and search mix.
 */
object Survey {

  /** One source row. `cls` is 0 for band, 1 for cluster, 2 for background. */
  final case class Src(id: Long, ra: Double, dec: Double, mag: Double, flux: Double, cls: Int)

  type Vec = (Double, Double, Double)

  def toVec(p: (Double, Double)): Vec = toVec(p._1, p._2)

  def toVec(raDeg: Double, decDeg: Double): Vec = {
    val (a, d) = (math.toRadians(raDeg), math.toRadians(decDeg))
    (math.cos(d) * math.cos(a), math.cos(d) * math.sin(a), math.sin(d))
  }

  def toRaDec(v: Vec): (Double, Double) = {
    val n = math.sqrt(v._1 * v._1 + v._2 * v._2 + v._3 * v._3)
    val dec = math.toDegrees(math.asin(math.max(-1.0, math.min(1.0, v._3 / n))))
    var ra = math.toDegrees(math.atan2(v._2, v._1))
    if (ra < 0) ra += 360.0
    if (ra >= 360.0) ra -= 360.0
    (ra, dec)
  }

  private def cross(a: Vec, b: Vec): Vec =
    (a._2 * b._3 - a._3 * b._2, a._3 * b._1 - a._1 * b._3, a._1 * b._2 - a._2 * b._1)
  private def unit(a: Vec): Vec = {
    val n = math.sqrt(a._1 * a._1 + a._2 * a._2 + a._3 * a._3)
    (a._1 / n, a._2 / n, a._3 / n)
  }
  private def add(a: Vec, b: Vec, s: Double): Vec = (a._1 + s * b._1, a._2 + s * b._2, a._3 + s * b._3)

  /** Tangent-plane (east, north) basis at a point. */
  private def tangent(c: Vec): (Vec, Vec) = {
    val east = if (math.abs(c._3) > 0.999999) (0.0, 1.0, 0.0) else unit(cross((0.0, 0.0, 1.0), c))
    (east, cross(c, east))
  }

  /** The point at angular distance `distDeg` from (ra, dec) along `bearingRad`. */
  def offset(raDeg: Double, decDeg: Double, distDeg: Double, bearingRad: Double): (Double, Double) = {
    val c = toVec(raDeg, decDeg)
    val (e, n) = tangent(c)
    val t = math.tan(math.toRadians(distDeg))
    toRaDec(add(add(c, e, t * math.sin(bearingRad)), n, t * math.cos(bearingRad)))
  }

  private def uniformSky(r: SplittableRandom): (Double, Double) =
    (r.nextDouble() * 360.0, math.toDegrees(math.asin(2 * r.nextDouble() - 1)))

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = math.max(1e-300, r.nextDouble())
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** The sky model behind one seed: band plane, clusters. */
  final case class Sky(bandA: Vec, bandB: Vec, bandPole: Vec, bandSigmaDeg: Double,
                       clusters: IndexedSeq[(Double, Double, Double)]) {
    private val bandShare = 0.4
    private val clusterShare = 0.4
    /** Cluster populations fall off as 1/rank, so a few clusters are rich
     *  enough to drive the partitioner down to the finest order. */
    private val clusterCdf = {
      val w = clusters.indices.map(i => 1.0 / (i + 1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
    private def pickCluster(u: Double): Int = math.max(0, clusterCdf.indexWhere(_ >= u))

    /** A point on the band's centre line. */
    def bandPoint(u: Double): (Double, Double) =
      toRaDec(add((math.cos(u) * bandA._1, math.cos(u) * bandA._2, math.cos(u) * bandA._3), bandB, math.sin(u)))

    private def sampleOne(r: SplittableRandom, id: Long): Src = {
      val x = r.nextDouble()
      val (cls, (ra, dec)) =
        if (x < bandShare) {
          (0, toRaDec(add(toVec(bandPoint(r.nextDouble() * 2 * math.Pi)), bandPole,
            math.tan(math.toRadians(bandSigmaDeg * gauss(r))))))
        } else if (x < bandShare + clusterShare) {
          val (cra, cdec, sigma) = clusters(pickCluster(r.nextDouble()))
          val dist = sigma * math.sqrt(-2 * math.log(math.max(1e-300, r.nextDouble())))
          (1, offset(cra, cdec, dist, r.nextDouble() * 2 * math.Pi))
        } else (2, uniformSky(r))
      val mag = 14.0 + 10.0 * math.pow(r.nextDouble(), 0.3)
      Src(id, ra, dec, mag, math.pow(10, -0.4 * (mag - 25)), cls)
    }

    def sample(seed: Long, n: Int, idBase: Long): Array[Src] = {
      val r = new SplittableRandom(seed)
      Array.tabulate(n)(i => sampleOne(r, idBase + i))
    }
  }

  /** The sky model every seed samples from. Seeding the geometry too made
   *  the cross-match cost move by about 20% from seed to seed, as clusters
   *  fell on or off the band and across tile edges; the seed now draws the
   *  rows, the copy, the batch and the searches from one fixed sky. */
  val fixedSky: Sky = sky(0L)

  def sky(seed: Long): Sky = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    val (pra, pdec) = (r.nextDouble() * 360.0, 25.0 + r.nextDouble() * 45.0)
    val pole = toVec(pra, pdec)
    val a = unit(cross(pole, (0.0, 0.0, 1.0)))
    val b = cross(pole, a)
    // widths are fixed by rank (richest = tightest) and only the positions
    // are random, so every seed gives the partitioner the same depth of work
    val clusters = (0 until 20).map { i =>
      val (ra, dec) = uniformSky(r)
      (ra, dec, 0.02 * math.pow(10, i / 19.0))
    }
    Sky(a, b, pole, 1.0, clusters)
  }

  /** The survey itself: `n` rows with ids from 0. */
  def survey(seed: Long, n: Int): Array[Src] = fixedSky.sample(seed + 1, n, 0L)

  /** A second batch from the same sky, for `Catalog.append`. */
  def appendBatch(seed: Long, n: Int): Array[Src] = fixedSky.sample(seed + 2, n, 1000000000L)

  /** A second catalog: every row of a seeded subset of `base`, moved by
   *  about an arcsecond and renumbered, so true matches exist. */
  def perturbed(seed: Long, base: Array[Src], share: Double): Array[Src] = {
    val r = new SplittableRandom(seed + 3)
    val out = Array.newBuilder[Src]
    var i = 0
    base.foreach { s =>
      if (r.nextDouble() < share) {
        val (ra, dec) = offset(s.ra, s.dec, math.abs(gauss(r)) / 3600.0, r.nextDouble() * 2 * math.Pi)
        out += Src(2000000000L + i, ra, dec, s.mag + 0.05 * gauss(r), s.flux, s.cls)
        i += 1
      }
    }
    out.result()
  }

  // ---- the search mix ----

  sealed trait Search { def key: String }
  final case class Cone(ra: Double, dec: Double, radius: Double) extends Search {
    def key = f"cone($ra%.6f,$dec%.6f,$radius%.6f)"
  }
  final case class Box(raLo: Double, raHi: Double, decLo: Double, decHi: Double) extends Search {
    def key = f"box($raLo%.6f,$raHi%.6f,$decLo%.6f,$decHi%.6f)"
  }
  final case class Polygon(vertices: Seq[(Double, Double)]) extends Search {
    def key = vertices.map { case (a, d) => f"$a%.6f:$d%.6f" }.mkString("poly(", ",", ")")
  }

  val minRadiusDeg: Double = 30.0 / 3600.0
  val maxRadiusDeg: Double = 3.0

  /** `n` searches: cone/box/polygon at 2:1:1, log-uniform radii, half the
   *  centres on the band, and a `revisit` share repeating an earlier search. */
  def searches(seed: Long, n: Int, revisit: Double = 0.2): IndexedSeq[Search] = {
    val sk = fixedSky
    val r = new SplittableRandom(seed + 4)
    val out = scala.collection.mutable.ArrayBuffer.empty[Search]
    while (out.size < n) {
      if (out.nonEmpty && r.nextDouble() < revisit) out += out(r.nextInt(out.size))
      else {
        val radius = minRadiusDeg * math.exp(r.nextDouble() * math.log(maxRadiusDeg / minRadiusDeg))
        val (cra, cdec0) =
          if (r.nextDouble() < 0.5) {
            val (ra, dec) = sk.bandPoint(r.nextDouble() * 2 * math.Pi)
            offset(ra, dec, math.abs(gauss(r)) * sk.bandSigmaDeg, r.nextDouble() * 2 * math.Pi)
          } else uniformSky(r)
        // boxes and polygons stay clear of the poles so their edges are well defined
        val cdec = math.max(-80.0, math.min(80.0, cdec0))
        val kind = r.nextInt(4)
        out += (kind match {
          case 0 | 1 => Cone(cra, cdec0, radius)
          case 2 =>
            val halfRa = math.min(60.0, radius / math.cos(math.toRadians(math.abs(cdec) + radius)))
            val lo = cra - halfRa
            val hi = cra + halfRa
            Box(if (lo < 0) lo + 360 else lo, if (hi >= 360) hi - 360 else hi, cdec - radius, cdec + radius)
          case _ =>
            val k = 4 + r.nextInt(3)
            val phase = r.nextDouble() * 2 * math.Pi
            val bearings = (0 until k).map(j => phase + 2 * math.Pi * (j + 0.3 * r.nextDouble()) / k)
            Polygon(bearings.map(b => offset(cra, cdec, radius, b)))
        })
      }
    }
    out.toIndexedSeq
  }
}
