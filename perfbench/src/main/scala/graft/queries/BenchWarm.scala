package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The dedup module's shared-cache frames, which the engine keeps
  * package-private: the corpus_dedup workload warms exactly these before
  * timing, as graft.Bench's SessionCache.warm does for every module.
  */
object BenchWarm {
  def dedupFrames(spark: SparkSession, dir: String): Seq[(String, DataFrame)] =
    Dedup.warmFrames(spark, dir)
}
