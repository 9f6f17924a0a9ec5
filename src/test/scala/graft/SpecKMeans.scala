package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** The executable SPECIFICATION of k-means assignment — the parity
  * oracle for the production kernel, [[graft.operators.KMeansDet]]'s
  * `assignExprCols` ([[graft.functions.ArgminDist]]). */
object SpecKMeans {

  /** Argmin of squared distance over `cents` order, lowest cluster id
    * taking ties: array_position(dists, array_min(dists)) − 1, the
    * first index achieving the minimum, with every centroid coordinate a
    * column literal. Each Lloyd iteration's centroids are new literals,
    * so in production this form recompiled its k·d-literal expression
    * every iteration (measured 172 s fit / 45 s label at d = 64,
    * k = 16); the kernel carries the centroids in a reference object.
    * Distances are squares, so the -0.0 = 0.0 comparison wrinkle can't
    * arise. */
  def assignExpr(cents: Array[Array[Double]], feats: Seq[Column]): Column = {
    def dist(j: Int): Column = feats.zipWithIndex.map { case (f, i) =>
      val x = f.cast(DoubleType) // pin coercion: double minus double
      (x - lit(cents(j)(i))) * (x - lit(cents(j)(i)))
    }.reduce(_ + _)
    val dists = array(cents.indices.map(dist): _*)
    (array_position(dists, array_min(dists)) - 1).cast(IntegerType)
  }
}
