package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.SessionScope

/** Session clones share generated code but not conf.
  *
  * Spark caches generated classes by (context classloader, code), and
  * an artifact-isolated session runs under a classloader of its own, so
  * a clone per kernel call used to recompile every class the call had
  * compiled before. These tests count Janino compiles
  * (`CodegenMetrics.METRIC_COMPILATION_TIME`, one update per compile)
  * across two consecutive clones. */
class SessionScopeSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** `f`'s result and the Janino compiles it made. */
  private def compiling[T](f: => T): (T, Long) = {
    val c0 = compiles
    val r = f
    (r, compiles - c0)
  }

  private def aggregate(s: SparkSession): Unit =
    s.range(0, 2000).select((col("id") % 7).as("k"), col("id"))
      .groupBy("k").agg(sum("id"), max("id")).collect()

  private val scopes: Seq[(String, SparkSession => (SparkSession => Unit) => Unit)] = Seq(
    "withAqeOff" -> (s => b => SessionScope.withAqeOff(s)(b)),
    "withAqeOffQuarterNp" -> (s => b => SessionScope.withAqeOffQuarterNp(s)(b)),
    "cloned" -> (s => b => SessionScope.cloned(s)(b)))

  for ((name, scope) <- scopes)
    test(s"$name: a second clone compiles nothing for the same query") {
      scope(spark)(aggregate)
      val (_, second) = compiling(scope(spark)(aggregate))
      assert(second === 0L, s"the second $name clone recompiled $second classes")
    }

  test("q_kcore's second call compiles nothing") {
    // goes through withAqeOffQuarterNp. Its ~75 classes need the
    // builder's 1000-entry codegen cache: Spark's default 100 is four
    // LRU segments of 25, and in about one test JVM of three (the
    // segment follows the classloader's identity hash) one segment
    // overflowed and recompiled its ~19 classes on every call
    def kcore() = SparkEntry.queries("q_kcore")(spark, sfDir).collect().toSeq
    val first = kcore()
    val (second, n) = compiling(kcore())
    assert(n === 0L, s"q_kcore's second call recompiled $n classes")
    assert(second.map(_.toString).sorted === first.map(_.toString).sorted)
  }

  test("a conf set in a clone reaches neither the parent nor the next clone") {
    val key = "spark.sql.shuffle.partitions"
    val parent = spark.conf.get(key)
    val isolation = spark.conf.getOption("spark.sql.artifact.isolation.enabled")
    for ((name, scope) <- scopes) {
      scope(spark)(s2 => s2.conf.set(key, "3"))
      assert(spark.conf.get(key) === parent, s"$name leaked into the parent")
      SessionScope.cloned(spark) { s3 =>
        assert(s3.conf.get(key) === parent, s"$name leaked into the next clone")
      }
    }
    assert(spark.conf.getOption("spark.sql.artifact.isolation.enabled") === isolation,
      "the parent's artifact isolation must be left as it was")
  }
}
