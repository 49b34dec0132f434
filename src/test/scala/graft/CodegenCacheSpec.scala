package graft

import org.apache.spark.SpecProbe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Analytics, StarSchema, Warehouse}

/** Generated-code reuse tripwire. A dashboard refresh plans the same
  * queries every time, so once one refresh has run, the next should
  * find every generated class in Spark's code cache instead of
  * compiling it again. The cache holds a fixed number of classes
  * (`GraftSession.create`); one too small for a refresh evicts its
  * own classes before they are reused and every refresh recompiles
  * most of them. */
class CodegenCacheSpec extends SparkSpec {

  test("a repeated ten-panel dashboard refresh compiles almost no " +
    "generated code") {
    val events = (0 until 600).map { i =>
      (i.toLong, (i % 40).toLong,
        f"2024-01-${1 + i % 20}%02d ${i % 24}%02d:${i % 60}%02d:00",
        Seq("play", "skip", "like", "purchase")(i % 4), (i % 9).toDouble,
        "{}")
    }
    val wh = java.nio.file.Files.createTempDirectory("graft_codegen")
    val cleanDf = StarSchema.clean(eventsDf(events))
    Warehouse.publishAudited(cleanDf, s"$wh/clean",
      Seq("user_present" -> col("user_id").isNotNull))
    Warehouse.publishAudited(StarSchema.fact(cleanDf), s"$wh/fact",
      Seq("user_present" -> col("user_key").isNotNull), Seq("date_key"))
    val end = java.time.LocalDate.parse("2024-01-20")

    def panels(clean: DataFrame, fact: DataFrame): Seq[DataFrame] = Seq(
      Analytics.heatmap(clean), Analytics.hourRatio(clean),
      Analytics.radar(clean), Analytics.loyalty(clean),
      Analytics.topN(clean, "user_id", 20), Analytics.discoveryWeekly(clean),
      Analytics.cohortRetention(clean), Analytics.sessionize(clean),
      StarSchema.dailyStats(clean),
      Warehouse.lastDays(fact, end, 7).groupBy(col("date_key"))
        .agg(count(lit(1)).as("n_events")))

    /** One refresh; returns the code compilations it triggered. */
    def refresh(): Long = {
      val before = SpecProbe.codegenCompiles
      panels(Warehouse.readPublished(spark, s"$wh/clean"),
        Warehouse.readPublished(spark, s"$wh/fact")).foreach(_.collect())
      SpecProbe.codegenCompiles - before
    }

    val first = refresh()
    val second = refresh()
    info(s"code compilations: first refresh $first, second $second")
    assert(second <= 20,
      s"the second refresh compiled $second classes (the first $first): " +
        "the generated-code cache evicts a refresh's own classes")
  }
}
