package perfbench

import java.nio.file.{Files => JFiles}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.{GenData, GenOpts}

class LaneBenchSpec extends AnyFunSuite {

  test("a lane that throws is a failed operation, leaves the warm passes, and fails the run") {
    val dir = JFiles.createTempDirectory("perfbench-lanes")
    val data = dir.resolve("data").toString
    val s = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    try {
      GenData.writeOne(GenData.documents(s, 20, GenOpts()), data, "documents")
      GenData.writeOne(GenData.embeddings(s, 10, 1L), data, "embeddings")
    } finally s.stop()
    val lanes = Seq(
      Lane("ok", None, (s, _) => s.range(0, 1000, 1, 2).selectExpr("id % 7 AS k").groupBy("k").count()),
      Lane("boom", None, (_, _) => throw new IllegalStateException("boom")))
    val bench = new LaneBench(lanes, data, dir.resolve("run"), 0.0, 2, new Trace(true))
    val r = try bench.run() finally bench.session.stop()
    try {
      assert(r.failures.size == 1 && r.failures.head.startsWith("boom cold"))
      assert(r.warm.keySet == Set("ok") && r.warm("ok").size == 2)
      assert(r.attempted == 4) // two cold runs and two warm runs of "ok"
      assert(Main.exitCode(r.failures) != 0)
      assert(Main.exitCode(Nil) == 0)
      // the traced run tied the lane's stages to its warm steps
      assert(r.perLayer("operators.stages") >= 1)
      assert(r.perLayer("operators.tasks") >= 2)
      assert(r.endToEnd("warm_s") > 0 && r.endToEnd("build_s") == 0)
    } finally Files.deleteTree(dir)
  }
}
