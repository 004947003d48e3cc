package graft

import java.nio.file.Files

/** [[PlanDump]] writes the plan that ran, not the pre-AQE one. */
class PlanDumpSpec extends SparkTestBase {

  test("PlanDump writes the final AQE plan with its SQL metrics") {
    val outDir = Fixtures.tempDir("plandump")
    val Seq(out) = PlanDump.dump(spark, sfDir, outDir, "after", Seq("q_pricing_summary"))
    assert(out.getFileName.toString === "q_pricing_summary_after.txt")
    val text = Files.readString(out)
    assert(text.contains("isFinalPlan=true"), text)
    assert(!text.contains("isFinalPlan=false"), text)
    assert(text.contains("== SQL metrics =="))
    assert(text.contains("number of output rows="), text)
  }
}
