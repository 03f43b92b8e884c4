package graft

import java.nio.file.Files
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
}
