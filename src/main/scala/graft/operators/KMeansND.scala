package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types._

/** n-dimensional Lloyd's over `array<float>` embeddings — the reference
  * algorithm (kmeans_mapreduce_core.cu) generalized past 2-D, still
  * Spark-shaped: broadcast centroid table, shuffle only k×dim partial
  * sums per partition per iteration.
  *
  * Distances use |a|² − 2a·b + |b|², each dot a sequential double
  * accumulation — bit-identical to `list_dot_product` on DOUBLE[] in
  * DuckDB, so assignment steps are oracle-checkable even at 64
  * dimensions. */
object KMeansND {

  /** argmin over baked-in centroids; returns struct(cid, dist). Ties
    * break to the lowest cid (centroid arrays sorted by cid, strict <). */
  case class NearestCentroidND(child: Expression, cids: Array[Int],
      centroids: Array[Array[Double]], norms: Array[Double])
    extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = StructType(Seq(
      StructField("cid", IntegerType, nullable = false),
      StructField("dist", DoubleType, nullable = false)))

    override def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      val n = a.numElements()
      val x = new Array[Double](n)
      var i = 0
      var na = 0.0
      while (i < n) { x(i) = a.getFloat(i).toDouble; na += x(i) * x(i); i += 1 }
      var best = Double.MaxValue
      var bestC = -1
      var c = 0
      while (c < cids.length) {
        val cv = centroids(c)
        var dot = 0.0
        var j = 0
        while (j < n && j < cv.length) { dot += x(j) * cv(j); j += 1 }
        val d = (na - 2 * dot) + norms(c)
        if (d < best) { best = d; bestC = cids(c) }
        c += 1
      }
      InternalRow(bestC, best)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Sequential |v|² — must match DuckDB's list_dot_product(v, v). */
  def norm2(v: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    s
  }

  def nearest(vec: Column, centroids: Seq[(Int, Array[Double])]): Column = {
    val sorted = centroids.sortBy(_._1)
    ExprBridge.column(NearestCentroidND(ExprBridge.expression(vec),
      sorted.map(_._1).toArray, sorted.map(_._2).toArray,
      sorted.map(c => norm2(c._2)).toArray))
  }

  /** Map phase over (id, vec): +cid, +dist. */
  def assign(points: DataFrame, centroids: Seq[(Int, Array[Double])]): DataFrame =
    points.withColumn("_n", nearest(col("vec"), centroids))
      .withColumn("cid", col("_n.cid")).withColumn("dist", col("_n.dist"))
      .drop("_n")

  /** One Lloyd iteration: per-cluster per-dim means via narrow
    * (cid, dim, v) partial aggregation; empty clusters unchanged. */
  def step(points: DataFrame, centroids: Seq[(Int, Array[Double])],
      roundTo: Int = 6): Seq[(Int, Array[Double])] = {
    val means = assign(points, centroids)
      .select(col("cid"), posexplode(col("vec")).as(Seq("dim", "x")))
      .groupBy("cid", "dim")
      .agg(round(avg(col("x").cast("double")), roundTo).as("m"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (cid, rows) =>
        cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
      }
    centroids.map { case (cid, cv) => cid -> means.getOrElse(cid, cv) }
      .sortBy(_._1)
  }

  /** Deterministic seed: vectors with id < k, cid = id. */
  def seed(points: DataFrame, k: Int): Seq[(Int, Array[Double])] =
    points.filter(col("id") < k).collect().map { r =>
      r.getAs[Long]("id").toInt ->
        r.getAs[Seq[Float]]("vec").map(_.toDouble).toArray
    }.sortBy(_._1).toSeq

  /** Lloyd's from [[seed]] to convergence (max coordinate movement
    * < tol). Each round has [[step]]'s arithmetic and runs as one
    * [[Lloyd]] job; a corpus of mixed vector dims fails fast. */
  def fit(points: DataFrame, k: Int, maxIter: Int = 20, tol: Double = 1e-4)
      : Seq[(Int, Array[Double])] = {
    val init = seed(points, k)
    val (cs, _) = Lloyd.fit(points, col("vec"), init.map(_._2).toArray,
      maxIter, Some(tol), Lloyd.Arith(decomposed = true, integer = false))
    init.map(_._1).zip(cs)
  }
}
