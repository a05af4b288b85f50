package graft

import java.io.File
import java.nio.file.Files
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** `Verify.dump`, the correctness dump the oracle compare reads. */
class VerifySpec extends AnyFunSuite {
  private val spark = SparkTest.session
  private val dir = "/root/testdata/sf0.001"

  test("an entry that fails to build leaves no dump, not even a stale one, " +
      "keeps its oracle and is reported") {
    val out = Files.createTempDirectory("graft-verify").toFile
    try {
      val stale = new File(out, "q01_take_sort")
      stale.mkdirs()
      Files.writeString(new File(stale, "part-00000.parquet").toPath, "an earlier run's rows")
      val broken: (SparkSession, String) => DataFrame =
        (_, _) => throw new IllegalStateException("broken entry")
      val failed = Verify.dump(spark, dir, out.toString, Map(
        "q01_take_sort" -> broken,
        "q02_select_derive" -> SparkEntry.queries("q02_select_derive")))
      assert(failed == Seq("q01_take_sort"))
      assert(!stale.exists(), "a failed entry's earlier dump must not survive")
      assert(new File(out, "q02_select_derive").isDirectory)
      val json = Files.readString(new File(out, "oracle_sql.json").toPath)
      assert(json.contains("\"q01_take_sort\"") && json.contains("\"q02_select_derive\""), json)
    } finally FileUtils.deleteDirectory(out)
  }
}
