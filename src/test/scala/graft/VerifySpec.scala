package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}

class VerifySpec extends SparkSpec {

  test("Verify.dump: a failing key is in manifest.json and the next key runs; a fatal error propagates") {
    type Query = (SparkSession, String) => DataFrame
    val out = Files.createTempDirectory("graft_verify")
    queries.TmpCleanup.register(out)
    val q1 = SparkEntry.queries("q1_pricing_summary")
    val boom: Query = (_, _) => throw new IllegalStateException("boom")
    Verify.dump(spark, sf0001, out.toString, Seq("boom" -> boom, "q1_pricing_summary" -> q1))

    val m = new ObjectMapper().readTree(out.resolve("manifest.json").toFile)
    assert(m.size == 2)
    val ok = m.get("q1_pricing_summary")
    assert(ok.get("status").asText == "ok")
    assert(!ok.has("error") && !ok.has("frame"))
    assert(ok.get("wall_s").asDouble > 0)
    // at least the write's own job
    assert(ok.get("jobs").asLong >= 1, ok)
    val bad = m.get("boom")
    assert(bad.get("status").asText == "error")
    assert(bad.get("error").asText == "java.lang.IllegalStateException")
    assert(bad.get("frame").asText.contains("VerifySpec"), bad)
    assert(bad.get("wall_s").asDouble >= 0)
    assert(bad.get("jobs").asLong == 0 && !bad.has("rows"), bad)
    val q1Rows = q1(spark, sf0001).count()
    assert(q1Rows > 0)
    assert(spark.read.parquet(s"$out/q1_pricing_summary").count() == q1Rows)
    assert(ok.get("rows").asLong == q1Rows, ok)
    assert(!Files.exists(out.resolve("boom")))

    val oom = new OutOfMemoryError("fatal")
    val fatal: Query = (_, _) => throw oom
    val thrown = intercept[OutOfMemoryError] {
      Verify.dump(spark, sf0001, out.toString, Seq("fatal" -> fatal))
    }
    assert(thrown eq oom)
  }
}
