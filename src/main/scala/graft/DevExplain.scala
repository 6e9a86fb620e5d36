package graft

/** Dev utility: print the formatted physical plan of registered queries.
  * Usage: sbt "runMain graft.DevExplain q5_multijoin q6_filter_agg"
  */
object DevExplain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Registry.all.map(_.name)
    names.foreach { n =>
      println(s"===== $n =====")
      Registry.byName(n).fn(spark, "/root/testdata/sf0.001").explain("formatted")
    }
    spark.stop()
  }
}
