package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Session, Tables}
import graft.ops.Pin.PinSyntax
import graft.ops.Similarity

/** Recall-vs-n gauge for the IVF self-kNN geometry (round 13, VERDICT
  * r12 mandate #2 — "steer recall, don't just gauge it"): computes the
  * exact self-kNN truth ONCE on a corpus, then scores the indexed
  * kernel's directed-pair recall under a LIST of probe settings in the
  * same JVM — fixed-nProbe points (`p6`) and pinned-scanned-fraction
  * points (`f0.133`, the [[Similarity.steeredProbes]] steering mode).
  * One invocation per corpus shape feeds one row of BASELINE.md's
  * recall-vs-n table; `tools/recall_steering_lane.sh` sweeps the
  * isotropic and clustered shapes across three corpus decades.
  *
  * The exact twin is O(n²) BY DESIGN (it is the truth arm, exactly
  * q223's discipline) — the gauge is a measurement tool for corpora up
  * to the lane's 20k-vector shapes, not a production kernel; the
  * production recall dial it calibrates is `scanFraction`/`nProbe` on
  * [[Similarity.ivfSelfTopK]].
  *
  * Usage: RecallGauge <sfDir> [k] [setting...]
  *   setting := pN   (fixed nProbe N, the default O(n^1.5) mode)
  *            | fX   (scanFraction X in (0,1] — nProbe = ⌈X·C⌉)
  * Defaults: k = 4, settings = p6 (the q221/q222/q223 production
  * shape). Prints ONE JSON line:
  *   {"n":…,"cells":…,"k":…,"settings":[
  *     {"mode":"p6","nProbe":6,"scannedFrac":…,"recall":…,"sec":…},…]}
  */
object RecallGauge {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RecallGauge <sfDir> [k] [p6 f0.133 ...]")
    val dir = args(0)
    val rest = args.drop(1)
    val k = rest.headOption.filter(_.forall(_.isDigit)).map(_.toInt)
      .getOrElse(4)
    val settings0 = rest.filterNot(_.forall(_.isDigit))
    val settings = if (settings0.isEmpty) Seq("p6") else settings0.toSeq

    val spark = Session.builder()
      .config("spark.sql.shuffle.partitions", 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val vecs = Tables.t(spark, dir, "embeddings")
    val n = vecs.count()
    val cells = Similarity.ivfCells(n)

    def pairs(r: DataFrame): DataFrame =
      r.select(col("probe_id").as("a_id"), col("neighbor_id").as("b_id"))
    // truth arm, computed once and pinned — every setting scores
    // against the same materialized pair set
    val exact = pairs(Similarity.exactSelfTopK(vecs, "vec_id", "embedding",
      k)).pinned
    val nTruth = exact.count()

    val rows = settings.map { s =>
      val (mode, nProbe, frac) = s.head match {
        case 'p' => (s, s.tail.toInt, 0.0)
        case 'f' => (s, 1, s.tail.toDouble)
        case _ => sys.error(s"bad setting '$s' (want pN or fX)")
      }
      val effective = Similarity.steeredProbes(nProbe, cells, frac)
      val t0 = System.nanoTime()
      val idx = pairs(Similarity.ivfSelfTopK(vecs, "vec_id", "embedding",
        k, nProbe = nProbe, kmeansIters = 2, scanFraction = frac))
      val tp = idx.join(exact, Seq("a_id", "b_id"), "left_semi").count()
      val sec = (System.nanoTime() - t0) / 1e9
      val recall = if (nTruth == 0) 0.0 else tp.toDouble / nTruth
      f"""{"mode":"$mode","nProbe":$effective,""" +
        f""""scannedFrac":${effective.toDouble / cells}%.4f,""" +
        f""""recall":$recall%.4f,"sec":$sec%.1f}"""
    }
    println(s"""{"n":$n,"cells":$cells,"k":$k,"settings":[""" +
      rows.mkString(",") + "]}")
    spark.stop()
  }
}
