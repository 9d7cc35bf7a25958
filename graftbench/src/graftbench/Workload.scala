package graftbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, its private work directory,
 *  the seed and the number of task slots. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long, val cpus: Int) {
  def dir(name: String): String = work.resolve(name).toString
}

/** One operation of a pass: its kind ("import", "search", a query name...),
 *  the key that replays it, its wall seconds, whether it (and its output
 *  check) succeeded, and its trace operation id (-1 when untraced). */
final case class OpRec(kind: String, key: String, secs: Double, ok: Boolean, traceOp: Int)

final case class Pass(ops: Seq[OpRec], wallS: Double) {
  def of(kind: String): Seq[OpRec] = ops.filter(_.kind == kind)
  def secsOf(kind: String): Seq[Double] = of(kind).map(_.secs)
}

trait Workload {
  /** Builds the workload's inputs from the seed. */
  def buildInputs(tr: Option[Tracer]): Unit
  /** One-off work after the inputs are built and before the first timed
   *  operation: building stored state and warming the code paths. */
  def prepare(tr: Option[Tracer]): Unit
  /** The timed loop: runs until `budgetS` has passed, or replays `plan`. */
  def run(budgetS: Double, tr: Option[Tracer], plan: Option[Seq[String]]): Pass
  /** The operations of the timed pass that the traced pass replays. */
  def replay(timed: Pass): Seq[OpRec] = timed.ops
  /** Output checks, outside the timed region: one message per failure,
   *  and the keys of the operations whose output was wrong. */
  def check(pass: Pass): (Seq[String], Set[String])
  /** Operations run during set-up whose outputs [[check]] also covers. */
  def setupPass: Seq[OpRec] = Nil
  /** (op_s, batch_op_s) of the generic end-to-end metrics. */
  def endToEnd(pass: Pass): (Double, Double)
  /** This workload's own end-to-end metrics, under their own names. */
  def report(pass: Pass): Map[String, Double]
  /** Per-layer metrics from the traced pass. */
  def layers(timed: Pass, traced: Pass, tr: Tracer): Map[String, Double]
}

object Workload {
  /** Runs `body` as one operation: timed with the wall clock and, when a
   *  tracer is given, recorded as a traced operation. Failures are
   *  reported on stderr and recorded, never rethrown. */
  def op(tr: Option[Tracer], kind: String, key: String)(body: => Unit): OpRec = {
    val t0 = System.nanoTime()
    var traceOp = -1
    val ok =
      try {
        tr match {
          case Some(t) => traceOp = t.op(kind)(body)
          case None => body
        }
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"[graftbench] $kind $key failed: $e")
          false
      }
    OpRec(kind, key, (System.nanoTime() - t0) / 1e9, ok, traceOp)
  }

  def span[T](tr: Option[Tracer], name: String, layer: String)(body: => T): T =
    tr.fold(body)(_.span(name, layer)(body))

  /** Bytes and file count of the parquet files under a directory. */
  def parquetSize(dir: String): (Long, Int) = {
    val p = java.nio.file.Paths.get(dir)
    if (!Files.exists(p)) (0L, 0)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
          .toArray.map(_.asInstanceOf[Path])
        (fs.map(Files.size).sum, fs.length)
      } finally s.close()
    }
  }

  def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
}
