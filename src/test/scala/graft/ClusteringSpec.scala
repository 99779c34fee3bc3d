package graft

import org.apache.spark.sql.functions._
import graft.ops.Clustering

class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  /** 3 tight, well-separated clusters (same generator family as
    * SimilaritySpec but spread out so quantization can't merge them).
    */
  private def planted(n: Int, dim: Int): Seq[(Long, Array[Float], Int)] = {
    val rnd = new scala.util.Random(11)
    val centers = Array.tabulate(3, dim)((c, i) =>
      (if (i % 3 == c) 10f else 0f) + rnd.nextGaussian().toFloat)
    (0 until n).map { i =>
      val c = i % 3
      (i.toLong, centers(c).map(x => x + 0.1f * rnd.nextGaussian().toFloat), c)
    }
  }

  test("kmeansSq8 recovers planted clusters (k=3) purely") {
    val df = planted(90, 16).map(t => (t._1, t._2)).toDF("vec_id", "embedding")
    val truth = planted(90, 16).map(t => t._1 -> t._3).toMap
    val got = Clustering.kmeansSq8(df, "vec_id", "embedding", k = 3, updates = 4)
      .select($"vec_id", $"cluster").as[(Long, Int)].collect().toMap
    // each kmeans cluster must be pure: all members share one truth label
    val purity = got.groupBy(_._2).values.forall { members =>
      members.map(kv => truth(kv._1)).toSet.size == 1
    }
    assert(purity, "a kmeans cluster mixes planted clusters")
    // and the 3 planted clusters must not collapse into fewer
    assert(got.values.toSet.size == 3)
  }

  test("kmeansSq8 is deterministic across runs and k>needed leaves empties stable") {
    val df = planted(60, 16).map(t => (t._1, t._2)).toDF("vec_id", "embedding")
    // k=6 over 3 real clusters → some clusters go empty mid-iteration and
    // must keep their previous centroid (not crash, not drift)
    def run() = Clustering.kmeansSq8(df, "vec_id", "embedding", k = 6, updates = 3)
      .select($"vec_id", $"cluster", round($"qdist", 6))
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    val a = run()
    val b = run()
    assert(a == b)
  }

  test("Lloyd loop reads a persisted projection: planned parquet scans don't grow with updates") {
    // 4 updates over a parquet-backed corpus: the init collect and every
    // update must read the cached quantized projection (InMemoryTableScan
    // — 0 planned parquet scans), leaving only the final assignment pass
    // as a real scan. The pre-fix loop planned updates+2 = 6 scans here.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val scans = RunMeter.measure(spark) {
      Clustering.kmeansSq8(emb, "vec_id", "embedding", k = 4, updates = 4)
        .write.mode("overwrite").format("noop").save()
    }.parquetScans
    assert(scans <= 2,
      s"kmeansSq8(updates=4) planned $scans parquet scans — the quantized " +
        "projection must be persisted through the Lloyd loop, not " +
        "re-scanned per update")
  }

  test("kmeansSq8 refuses a corpus smaller than k") {
    val df = planted(3, 8).map(t => (t._1, t._2)).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Clustering.kmeansSq8(df, "vec_id", "embedding", k = 5, updates = 1)
    }
    assert(e.getMessage.contains("fewer than"))
  }
}
