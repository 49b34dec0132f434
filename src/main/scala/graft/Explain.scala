package graft

/** Plan inspection tool: prints the formatted physical plan and timed
  * execution for one or more Suite queries. Usage:
  *   Explain <sfDir> <queryName> [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = if (args.length > 1) args.tail.toSeq else Suite.all.map(_.name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.create(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val byName = Suite.all.map(q => q.name -> q).toMap
    names.foreach { n =>
      val q = byName(n)
      val df = q.run(spark, sfDir)
      println(s"==== $n ====")
      df.explain("formatted")
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"---- $n time: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
