package graft.tools

import graft.{GraftSession, Scoped, SparkEntry}

/** Scratch: decompose the stateful-streaming gates' fixed cost. Runs a
  * query repeatedly under different state configurations (shuffle
  * partition count at stream start, state-store provider) in one JVM —
  * the deltas attribute the per-query floor to state-store instances vs
  * micro-batch machinery. Usage:
  *   runMain graft.tools.StreamCost <sfDir> <query> [query...]
  */
object StreamCost {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get("graft-streamcost")
    val dir = args(0)
    def time(q: String, confs: (String, String)*): Double =
      Scoped.withConf(spark, confs: _*) { s =>
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(s, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
    val parts = "spark.sql.shuffle.partitions"
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val hdfsProvider =
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    args.drop(1).foreach { q =>
      time(q) // warm
      val base = time(q)
      val few = time(q, parts -> "4")
      val hdfs = time(q, parts -> "32", provider -> hdfsProvider)
      val both = time(q, parts -> "4", provider -> hdfsProvider)
      println(f"[streamcost] $q base(rocks,32p)=$base%.2f " +
        f"rocks4p=$few%.2f hdfs32p=$hdfs%.2f hdfs4p=$both%.2f")
    }
    spark.stop()
  }
}
