package graft.functions

import org.apache.spark.sql.SparkSession

/** Single registration entry point for every custom Catalyst function
  * the engine ships. Every engine-owned session gets it through
  * [[graft.Engine.session]], never a hand-picked subset — round 5's one-query
  * timer registered only 4 of the then-8 functions, so a SQL query using
  * `shingles8` would fail there while passing in Bench. Operators keep
  * registering their own dependencies (each `register` is idempotent),
  * so library users never need this unless they write raw
  * `spark.sql(...)` against the function names. */
object Functions {
  def registerAll(spark: SparkSession): Unit = {
    MinHash48.register(spark)
    Shingles8.register(spark)
    Jaccard8.register(spark)
    Dot64.register(spark)
    SimHash16.register(spark)
    SimHash64.register(spark)
    SimHash128.register(spark)
    XorFp48.register(spark)
    GopherStats.register(spark)
    CovMoments.register(spark)
    CmsSketch.register(spark)
    HllRegs.register(spark)
    AdcSum.register(spark)
    TopKMin.register(spark)
    TopKMinRound.register(spark)
    TopKCosRound.register(spark)
    RoundGe.register(spark)
    UrlNorm.register(spark)
    // model-bound expressions (CentroidTopK, AdcTopKMulti, PqEncode,
    // SqEncode, BloomDecontam, BigramLm, QcScore, DsirScore, BpeTokens,
    // WinnowKeys, GramKeys, ChunkWords) bind at their call sites — a
    // registration needs the model/parameters, so there is no
    // parameter-free default to install here
  }
}
