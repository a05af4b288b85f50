package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every driver tool and this suite build their session through
  * [[GraftSession.builder]]; the shared settings must all be live. */
class GraftSessionSpec extends AnyFunSuite {
  private val spark = SparkTest.session

  test("GraftSession.builder: Graft SQL functions, UTC session time, ns parquet as long") {
    val sig = spark.sql("SELECT minhash_sig('the quick brown fox jumps', 5, 8) AS sig")
      .head().getSeq[Long](0)
    assert(sig.length == 8)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
