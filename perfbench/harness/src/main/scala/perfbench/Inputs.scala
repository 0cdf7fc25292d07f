package perfbench

import java.nio.file.{Files => JFiles, Path, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import graft.tools.{GenData, GenOpts}

/** Generates the lane workloads' input tables with `graft.tools.GenData`
  * at one scale factor and seed, one parquet file per table, the layout
  * of the reference corpus. Writes into a sibling directory and renames
  * it into place, so a directory that exists is complete.
  */
object Inputs {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def generate(dir: Path, sf: Double, seed: Long): Unit = {
    if (JFiles.isDirectory(dir)) return
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
    Files.deleteTree(tmp)
    val spark = SparkSession.builder().appName("perfbench-inputs")
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.resolveSibling(dir.getFileName.toString + ".local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolveSibling(dir.getFileName.toString + ".wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try GenData.genAll(spark, tmp.toString, sf, GenOpts(seed = seed))
    finally spark.stop()
    Files.deleteTree(tmp.resolveSibling(dir.getFileName.toString + ".local"))
    Files.deleteTree(tmp.resolveSibling(dir.getFileName.toString + ".wh"))
    JFiles.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
  }
}
