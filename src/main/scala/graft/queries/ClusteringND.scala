package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.KMeansND

/** n-dimensional clustering pack over the 64-d `embeddings` table —
  * the reference surface generalized to embedding vectors, with
  * assignment steps oracle-checked via the |a|²−2a·b+|b|² identity
  * (both engines accumulate dots sequentially in double). */
object ClusteringND extends QueryPack {
  val K = 8

  private def pts(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id").as("id"), col("embedding").as("vec"))

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    "kmnd_assign" -> ((s, d) => {
      val p = pts(s, d)
      KMeansND.assign(p, KMeansND.seed(p, K)).groupBy("cid")
        .agg(count(lit(1)).as("n"), round(sum("dist"), 4).as("wssse"))
    }),

    "kmnd_update" -> ((s, d) => {
      val p = pts(s, d)
      KMeansND.assign(p, KMeansND.seed(p, K))
        .select(col("cid"), posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy(col("cid"), (col("pos") + 1).as("dim"))
        .agg(round(avg(col("x").cast("double")), 6).as("m"))
    }),

    "kmnd_fit" -> ((s, d) => {
      val p = pts(s, d)
      val cs = KMeansND.fit(p, K, maxIter = 10)
      import s.implicits._
      cs.flatMap { case (cid, cv) =>
        cv.zipWithIndex.map { case (v, i) =>
          (cid, i + 1, math.rint(v * 10000) / 10000)
        }
      }.toDF("cid", "dim", "c")
    }),

    // Fixed-iteration 64-d Lloyd (tol=0 → exactly 2 Lloyd rounds, the
    // reference's ITERATIONS shape in n dims). Centroid values are the
    // per-iteration round(…,6) means, emitted as-is — the oracle
    // replays both rounds as chained unnest/relist CTEs.
    "kmnd_fixed" -> ((s, d) => {
      val p = pts(s, d)
      val cs = KMeansND.fit(p, K, maxIter = FixedIters, tol = 0.0)
      import s.implicits._
      cs.flatMap { case (cid, cv) =>
        cv.zipWithIndex.map { case (v, i) => (cid, i + 1, v) }
      }.toDF("cid", "dim", "c")
    })
  )

  private val FixedIters = 2

  private val ptsSql =
    "SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings"
  private val centSql =
    s"SELECT CAST(id AS INT) AS cid, v AS cv FROM pts WHERE id < $K"
  private val distSql =
    "(list_dot_product(p.v,p.v) - 2*list_dot_product(p.v,c.cv)) + list_dot_product(c.cv,c.cv)"
  private val assignSql =
    s"""SELECT id, cid, dist FROM (
       |  SELECT p.id, c.cid, $distSql AS dist,
       |    row_number() OVER (PARTITION BY p.id ORDER BY $distSql, c.cid) AS rn
       |  FROM pts p CROSS JOIN cent c) WHERE rn = 1""".stripMargin

  def oracles: Map[String, String] = Map(
    "kmnd_assign" ->
      s"""WITH pts AS ($ptsSql), cent AS ($centSql), a AS ($assignSql)
         |SELECT cid, count(*) AS n, round(sum(dist),4) AS wssse
         |FROM a GROUP BY cid""".stripMargin,
    "kmnd_update" ->
      s"""WITH pts AS ($ptsSql), cent AS ($centSql), a AS ($assignSql)
         |SELECT cid, pos AS dim, round(avg(x),6) AS m FROM (
         |  SELECT a.cid, unnest(p.v) AS x, generate_subscripts(p.v, 1) AS pos
         |  FROM a JOIN pts p USING (id))
         |GROUP BY cid, pos""".stripMargin,
    "kmnd_fixed" -> {
      // one assign+update round against centN, producing centN+1 as a
      // relisted per-dim mean (empty clusters carry centN forward)
      def stage(n: Int): String = {
        val dist = distSql.replace("c.cv", s"c$n.cv").replace("cent c", s"cent$n c$n")
        s"""a$n AS (SELECT id, cid FROM (
           |  SELECT p.id, c$n.cid,
           |    row_number() OVER (PARTITION BY p.id ORDER BY $dist, c$n.cid) AS rn
           |  FROM pts p CROSS JOIN cent$n c$n) WHERE rn = 1),
           |u$n AS (SELECT cid, pos, round(avg(x),6) AS m FROM (
           |  SELECT a$n.cid, unnest(p.v) AS x, generate_subscripts(p.v, 1) AS pos
           |  FROM a$n JOIN pts p USING (id)) GROUP BY cid, pos),
           |cent${n + 1} AS (
           |  SELECT c.cid, coalesce(l.mv, c.cv) AS cv
           |  FROM cent$n c LEFT JOIN (
           |    SELECT cid, list(m ORDER BY pos) AS mv FROM u$n GROUP BY cid) l
           |  USING (cid))""".stripMargin
      }
      val stages = (0 until FixedIters).map(stage).mkString(",\n")
      s"""WITH pts AS ($ptsSql),
         |cent0 AS (SELECT CAST(id AS INT) AS cid, v AS cv FROM pts WHERE id < $K),
         |$stages
         |SELECT cid, generate_subscripts(cv, 1) AS dim, unnest(cv) AS c
         |FROM cent$FixedIters""".stripMargin
    }
  )
}
