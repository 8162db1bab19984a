package graft

import org.apache.spark.sql.SparkSession

/**
 * Round-7 EXTRA benchmarks (guide §1.4) — `Bench.scala` is frozen for
 * measurement, so isolation experiments live here. One mode:
 *
 *   sbt "runMain graft.BenchExtra noop <trials> <q1,q2,...>"
 *     — times each query with the noop sink (computes every column of
 *       every row, no count()-pruning), `trials` repeats, prints min.
 *
 * Session config mirrors the frozen Bench (local[$SPARK_GRAFT_CPUS],
 * shuffle.partitions = cpus, AQE on) so numbers are comparable.
 */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val trials = args(1).toInt
    val list = args(2).split(",").toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // warmup: JIT + codegen, mirrors Bench
    graft.kg.Pipeline.extractTriples(spark,
      graft.kg.Pipeline.generatePages(spark, 64)).count()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

    mode match {
      case "noop" =>
        list.foreach { name =>
          spark.sparkContext.setJobDescription(s"noop: $name")
          val secs = (1 to trials).map(_ => time {
            SparkEntry.queries(name)(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
          })
          println(f"""{"query":"$name","min":${secs.min}%.3f,"samples":[${secs.map(s => f"$s%.3f").mkString(",")}]}""")
        }
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
