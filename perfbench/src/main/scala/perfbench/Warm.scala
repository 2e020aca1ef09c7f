package perfbench

import org.apache.spark.sql.SparkSession

/** Starts and stops a local session once. `run.py` runs it at build time
  * with -XX:ArchiveClassesAtExit, so later benchmark JVMs load the classes
  * of Spark's start-up from a class-data archive instead of from jars. */
object Warm {
  def main(args: Array[String]): Unit = {
    val dir = java.nio.file.Paths.get(args(0)).toAbsolutePath
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .getOrCreate()
    spark.range(10).selectExpr("id", "cast(id as string) s").write.parquet(dir.resolve("t").toString)
    spark.read.parquet(dir.resolve("t").toString).groupBy("s").count().collect()
    spark.stop()
    Fs.deleteTree(dir)
  }
}
