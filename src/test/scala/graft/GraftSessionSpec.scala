package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The harness mains' shared pieces: the per-query timing helper and the
  * JSON string writer. */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("timed: a query that runs reports its full row count and a time") {
    val r = GraftSession.timed(spark)(spark.range(7).toDF("id"))
    val (rows, secs) = r.getOrElse(fail(s"expected a timing, got $r"))
    assert(rows == 7)
    assert(secs >= 0.0)
  }

  test("timed: a query that throws while it is built is a failure, never a time") {
    val r = GraftSession.timed(spark)(throw new IllegalStateException("build boom"))
    assert(r.left.map(_.getMessage) == Left("build boom"))
  }

  test("timed: a query that throws while it executes is a failure, never a time") {
    val boom = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("execute boom")
      x
    }
    val r = GraftSession.timed(spark)(spark.range(3).select(boom(col("id")).as("x")))
    assert(r.isLeft, s"expected a failure, got $r")
    // Spark wraps the task's exception; the cause chain still names it
    val chain = Iterator.iterate(r.swap.toOption.get)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(e => Option(e.getMessage).exists(_.contains("execute boom"))))
  }

  test("timed: the query's tracked caches are released after a throw") {
    var pinned: DataFrame = null
    val r = GraftSession.timed(spark) {
      pinned = CacheRegistry.persistTracked(spark.range(10).toDF("id"))
      assert(pinned.count() == 10)
      assert(pinned.storageLevel != StorageLevel.NONE)
      throw new IllegalStateException("after persist")
    }
    assert(r.isLeft)
    assert(pinned.storageLevel == StorageLevel.NONE)
  }

  test("jsonString: quote, backslash, control characters and non-ASCII round-trip through Jackson") {
    val mapper = new ObjectMapper()
    Seq("say \"hi\"", "C:\\dir\\", "a\nb", "a\rb", "a\tb", "x\u0001y",
        "naïve 日本語 😀 Ω", "all: \" \\ \n \r \t \u0001 \u001f é", "").foreach { s =>
      val lit = GraftSession.jsonString(s)
      assert(!lit.exists(_ < ' '), s"raw control character in $lit")
      assert(mapper.readValue(lit, classOf[String]) == s)
    }
  }
}
