package graft

import graft.operators.{ChangeData, Similarity}

/** Purge routing: the Seq[Long] purge overloads compile small
  * forget-lists into `isInCollection` literals but route lists longer
  * than `ChangeData.inListMaxIds` through the key-relation join (a
  * 2^20-id literal is a multi-MB plan; the broadcast join ships ids
  * once). This suite pins that both paths, and the
  * key-relation overload called directly, delete exactly the same rows,
  * so the crossover is purely an execution-shape choice.
  */
class PurgeRoutingSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = (1L to 40L)
    .map(i => (i, Array(math.cos(i * 0.37), math.sin(i * 0.37))))
    .toDF("id", "vec")

  test("purgeIvfLayout(Seq) above the IN-list bound routes through the " +
      "key relation with identical surviving rows") {
    val victims = Seq(3L, 17L, 29L, 40L)
    // the same victims padded with absent ids past the bound
    val padded = victims ++
      (1L to ChangeData.inListMaxIds.toLong).map(_ + 1000L)
    assert(padded.length > ChangeData.inListMaxIds)
    def build() = {
      val d = java.nio.file.Files
        .createTempDirectory("graft_purge_routing").toString
      Similarity.writeIvfLayout(corpus, "id", "vec", d, nlist = 2,
        nassign = 1)
      d
    }
    def survivors(dir: String): Set[Long] =
      spark.read.parquet(dir).select("neighbor_id").distinct()
        .as[Long].collect().toSet
    val (literalDir, routedDir, keysDir) = (build(), build(), build())
    Similarity.purgeIvfLayout(spark, literalDir, victims)
    Similarity.purgeIvfLayout(spark, routedDir, padded)
    Similarity.purgeIvfLayout(spark, keysDir, victims.toDF("forget_id"))
    val lit = survivors(literalDir)
    assert(survivors(routedDir) === lit,
      "routed purge deleted a different row set than the literal purge")
    assert(survivors(keysDir) === lit,
      "key-relation purge deleted a different row set than the literal purge")
    assert(victims.forall(v => !lit.contains(v)), "victim survived")
    assert(lit.size === 40 - victims.size, "non-victim rows were lost")
  }
}
