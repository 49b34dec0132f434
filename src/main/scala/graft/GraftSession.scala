package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the engine: local[cpus], UTC, shuffle
  * parallelism = cores (not the 200 default — right-sized for the
  * local harness; on a real cluster this is cluster-sized or left to
  * AQE coalescing), AQE on, and the graft Catalyst extensions
  * installed (custom expressions, see [[graft.plans.GraftExtensions]]).
  *
  * Spark's generated-code cache holds 1024 classes instead of its
  * default 100. The engine's steady-state plan set is larger than
  * 100, and a cache smaller than the set evicts classes before they
  * are reused, so every repeat recompiles them: a 10-panel dashboard
  * refresh recompiled about 155 classes and an ETL day about 150.
  * Measured with a cache too large to evict (local[2], the listening
  * benchmark's inputs): one dashboard refresh after publishing its
  * warehouse uses 178 distinct classes, and one collector round plus
  * ETL round (four drops and three days, the state-carrying shapes
  * included) 303; 481 in all, counting classes both share twice. The cache is a Guava cache split into four LRU
  * segments of a quarter of the bound each, so 1024 leaves every
  * segment about twice its share. With it a warm refresh compiles
  * 6-14 classes, as with an unbounded cache; Metaspace used at the
  * end of a run stays about 151 MB, against 154 MB at the default.
  *
  * Generated classes are named without their codegen stage id
  * (`spark.sql.codegen.useIdInClassName`): AQE numbers a query's
  * stages in the order it plans them, which varies from run to run,
  * and with the id in the name two runs of one plan compile two
  * classes. In one run, 4 of the 10 classes the first warm refresh
  * compiled were such renamed copies; most of the others differed
  * from a cached class only in the order Spark declares fields or
  * the parameters of split functions.
  *
  * The value takes effect only because it is set here, before the
  * first query in the JVM: the cache is built once per JVM from this
  * static conf, when Spark first generates code, and a session
  * created later cannot resize it.
  */
object GraftSession {
  def create(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1024")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .getOrCreate()
}
