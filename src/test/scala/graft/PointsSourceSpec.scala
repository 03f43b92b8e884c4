package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.operators.KMeansDF
import graft.sources.PointsSource

class PointsSourceSpec extends SparkSpec {
  private val s = TestSession.spark
  import s.implicits._

  test("readPoints parses whitespace x/y lines and drops malformed ones") {
    val f = Files.createTempFile("points", ".txt")
    Files.writeString(f,
      "1 2\n3   4\n\nnot a point\n10 20\nNaN 5\n3 Infinity\n")
    val pts = PointsSource.readPoints(spark, f.toString)
    val got = pts.select("x", "y").as[(Double, Double)].collect().toSet
    assert(got === Set((1.0, 2.0), (3.0, 4.0), (10.0, 20.0)))
  }

  test("the reference pipeline runs end-to-end: text points → kmeans fit") {
    val f = Files.createTempFile("points2", ".txt")
    val rnd = new scala.util.Random(42)
    val lines = (1 to 200).map { i =>
      val (cx, cy) = if (i % 2 == 0) (0, 0) else (1000, 1000)
      s"${cx + rnd.nextInt(10)} ${cy + rnd.nextInt(10)}"
    }
    Files.writeString(f, lines.mkString("\n"))
    val pts = PointsSource.readPoints(spark, f.toString)
    val cs = KMeansDF.fit(pts, k = 2)
    assert(cs.length === 2)
    val xs = cs.map(_.x).sorted
    assert(xs(0) < 100 && xs(1) > 900, s"centroids should split the blobs: $cs")
  }

  test("readPoints splits a file across the session's cores, ids ascending in file order") {
    val f = Files.createTempFile("points3", ".txt")
    try {
      val rnd = new scala.util.Random(7)
      Files.writeString(f, Seq.fill(2000)(
        s"${rnd.nextInt(1000000)} ${rnd.nextInt(1000000)}").mkString("", "\n", "\n"))
      val parts = PointsSource.readPoints(spark, f.toString).rdd.glom().collect()
      assert(parts.length === spark.sparkContext.defaultParallelism)
      assert(parts.forall(_.nonEmpty), "every split holds lines")
      val rows = parts.flatten.toSeq
      val ids = rows.map(_.getLong(0))
      assert(ids.zip(ids.tail).forall { case (a, b) => a < b }, "ids ascend across partitions")
      val file = Files.readAllLines(f).asScala.toSeq.map { l =>
        val Array(x, y) = l.split(" ")
        (x.toDouble, y.toDouble)
      }
      assert(rows.map(r => (r.getDouble(1), r.getDouble(2))) === file)
    } finally Files.delete(f)
  }
}
