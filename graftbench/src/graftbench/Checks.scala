package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Output checks. They run outside the timed region and use only Spark's
 * built-in functions, so a defect in graft's own kernels cannot hide
 * itself by agreeing with the check.
 */
object Checks {

  /** Rows this close to a search boundary may fall either way. */
  val edgeTolDeg = 1e-9

  /** Haversine great-circle distance in degrees, from built-in functions. */
  def gcDeg(ra1: Column, dec1: Column, ra2: Column, dec2: Column): Column = {
    val h = pow(sin(radians(dec1 - dec2) / 2), 2) +
      cos(radians(dec1)) * cos(radians(dec2)) * pow(sin(radians(ra1 - ra2) / 2), 2)
    degrees(asin(least(lit(1.0), sqrt(h)))) * 2
  }

  private def unitVec(ra: Column, dec: Column): (Column, Column, Column) =
    (cos(radians(dec)) * cos(radians(ra)), cos(radians(dec)) * sin(radians(ra)), sin(radians(dec)))

  /** (strictly inside, within the boundary tolerance) for one search. */
  def membership(s: Survey.Search, ra: Column, dec: Column): (Column, Column) = s match {
    case Survey.Cone(cra, cdec, r) =>
      val d = gcDeg(ra, dec, lit(cra), lit(cdec))
      (d < r - edgeTolDeg, abs(d - r) <= edgeTolDeg)
    case Survey.Box(lo, hi, dlo, dhi) =>
      val inRa = if (lo <= hi) ra >= lo && ra <= hi else ra >= lo || ra <= hi
      val cosd = cos(radians(dec))
      def raNear(x: Double) = least(abs(ra - x), lit(360.0) - abs(ra - x)) * cosd <= edgeTolDeg
      val near = (abs(dec - dlo) <= edgeTolDeg || abs(dec - dhi) <= edgeTolDeg ||
        raNear(lo) || raNear(hi)) && dec >= dlo - edgeTolDeg && dec <= dhi + edgeTolDeg
      (inRa && dec >= dlo && dec <= dhi && !near, near)
    case Survey.Polygon(vs) =>
      // a convex polygon smaller than a hemisphere is the intersection of
      // the hemispheres on the inner side of its edges' great circles
      val vecs = vs.map { case (a, d) => Survey.toVec(a, d) }
      val centre = vecs.reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
      val (px, py, pz) = unitVec(ra, dec)
      val normals = vecs.indices.map { i =>
        val (a, b) = (vecs(i), vecs((i + 1) % vecs.size))
        val n = (a._2 * b._3 - a._3 * b._2, a._3 * b._1 - a._1 * b._3, a._1 * b._2 - a._2 * b._1)
        val len = math.sqrt(n._1 * n._1 + n._2 * n._2 + n._3 * n._3)
        val sgn = if (n._1 * centre._1 + n._2 * centre._2 + n._3 * centre._3 >= 0) 1.0 else -1.0
        (sgn * n._1 / len, sgn * n._2 / len, sgn * n._3 / len)
      }
      val side = normals.map { n => px * n._1 + py * n._2 + pz * n._3 }
      val tol = math.sin(math.toRadians(edgeTolDeg))
      val near = side.map(abs(_) <= tol).reduce(_ || _) && side.map(_ >= -tol).reduce(_ && _)
      (side.map(_ > tol).reduce(_ && _), near)
  }

  /** Brute-force (count inside, id sum inside, rows near the edge) of every
   *  search, in one job over the source frame. */
  def bruteForce(src: DataFrame, searches: Seq[Survey.Search]): Map[String, (Long, Long, Long)] = {
    val aggs = searches.zipWithIndex.flatMap { case (s, i) =>
      val (in, near) = membership(s, col("ra"), col("dec"))
      Seq(sum(when(in, 1L).otherwise(0L)).as(s"n$i"), sum(when(in, col("id")).otherwise(0L)).as(s"s$i"),
        sum(when(near, 1L).otherwise(0L)).as(s"e$i"))
    }
    val row = src.agg(aggs.head, aggs.tail: _*).head()
    searches.zipWithIndex.map { case (s, i) =>
      s.key -> (row.getLong(3 * i), row.getLong(3 * i + 1), row.getLong(3 * i + 2))
    }.toMap
  }

  /** Whether a search result (count, id sum) agrees with brute force. */
  def searchOk(got: (Long, Long), want: (Long, Long, Long)): Boolean = {
    val (n, s) = got
    val (wn, ws, edge) = want
    if (edge == 0) n == wn && s == ws else n >= wn && n <= wn + edge
  }

  /** Order-insensitive fingerprint of a frame: (rows, hash). Each row is
   *  hashed with xxhash64 over its columns and the hashes are summed
   *  exactly. Floating columns are rounded to 6 places first so the
   *  summation order inside an aggregate cannot change the result, and
   *  complex columns are hashed through their JSON text. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case DoubleType | FloatType =>
          val r = round(c.cast(DoubleType), 6)
          when(r === 0.0, lit(0.0)).otherwise(r)
        case _: ArrayType | _: MapType | _: StructType => to_json(c)
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val row = df.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)).cast(DecimalType(38, 0))))
      .head()
    (row.getLong(0), row.getDecimal(1).toPlainString)
  }

  /** Ingest invariants of one written catalog: every source row stored
   *  once, unique `_ID`s, no tile below orderK holding `threshold` or more
   *  of the `importRows` (appends may grow a tile past it), and a density
   *  map that sums to the row count. Returns the failures found. */
  def ingest(cat: graft.catalog.Catalog, expectRows: Long, importRows: Column,
             threshold: Long): Seq[String] = {
    val df = cat.load()
    val row = df.agg(count(lit(1)), countDistinct(col("_ID"))).head()
    val (n, distinctIds) = (row.getLong(0), row.getLong(1))
    val overfull = df.filter(importRows && col("Norder") < cat.orderK)
      .groupBy("Norder", "Npix").count().filter(col("count") >= threshold).count()
    val density = cat.densityMap().agg(sum("cnt")).head().getLong(0)
    Seq(
      if (n != expectRows) Some(s"row count $n != source rows $expectRows") else None,
      if (distinctIds != n) Some(s"_ID not unique: $distinctIds distinct of $n") else None,
      if (overfull > 0) Some(s"$overfull tiles below orderK reach the threshold") else None,
      if (density != n) Some(s"density map sums to $density, catalog holds $n") else None
    ).flatten
  }
}
