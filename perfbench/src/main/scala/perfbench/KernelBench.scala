package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The kernel loops ([[Kernels]]) in a JVM of their own, under the default
  * JIT, so the `functions.*` figures come from the compiler the library runs
  * under (the timed passes run C1 only). Args: data dir, budget in ns per
  * kernel, output JSON file. */
object KernelBench {
  def main(args: Array[String]): Unit = {
    val Array(data, budgetNs, out) = args
    val spark = SparkSession.builder().master("local[1]")
      .appName("graft-perfbench-kernels")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val res = Kernels.run(spark, data, budgetNs.toLong)
    spark.stop()
    Files.writeString(Paths.get(out),
      org.json4s.jackson.Serialization.write(res)(org.json4s.DefaultFormats))
  }
}
