package graft

import java.nio.file.Paths
import com.fasterxml.jackson.databind.ObjectMapper

/** The harness every main shares: the session builder, Bench's
  * query timer, and the JSON string escaper of the Bench and Verify records.
  */
class HarnessSpec extends SparkSpec {

  test("Session.local: UTC, nanosAsLong, UI off, shuffle partitions = cpus, warehouse outside the working dir") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    val wh = Paths.get(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath).normalize()
    assert(!wh.startsWith(Paths.get("").toAbsolutePath.normalize()),
      s"warehouse $wh is under the working directory")
  }

  test("timeMin: one warm-up, the catalog cleared before each timed run, the MIN wins") {
    import spark.implicits._
    val marker = Seq(1, 2, 3).toDF("m")
    marker.persist()
    val sleepsMs = Iterator(0L, 900L, 200L, 600L)
    var cachedAtEntry = Vector.empty[Boolean]
    val r = Bench.timeMin(spark, runs = 3) {
      val cached = marker.storageLevel.useMemory
      cachedAtEntry :+= cached
      if (!cached) marker.persist()
      Thread.sleep(sleepsMs.next())
      marker
    }
    // N+1 runs; only the warm-up saw the cache the caller left
    assert(cachedAtEntry == Vector(true, false, false, false))
    assert(r.exists(t => t >= 0.2 && t < 0.6), s"expected the 0.2 s run's time, got $r")
    spark.catalog.clearCache()
  }

  test("timeMin: a failing warm-up is not the result; the first failing timed run is, cut to 200 chars") {
    import spark.implicits._
    var call = 0
    val r = Bench.timeMin(spark, runs = 3) {
      call += 1
      call match {
        case 1 => throw new RuntimeException("warm-up")
        case 3 => throw new RuntimeException("x" * 500)
        case 4 => throw new RuntimeException("later")
        case _ => Seq(1).toDF("v")
      }
    }
    assert(call == 4)
    assert(r == Left("x" * 200))
    assert(Bench.timeOnce(throw new IllegalStateException()) ==
      Left("java.lang.IllegalStateException"))
  }

  test("Verify.q output parses back to its input, control characters included") {
    val s = "tab\tnl\ncr\rback\\slash \"quoted\" bell\u0007 nul\u0000 esc\u001b é ✓"
    assert(new ObjectMapper().readValue(Verify.q(s), classOf[String]) == s)
  }
}
