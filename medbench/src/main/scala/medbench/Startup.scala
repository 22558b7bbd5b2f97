package medbench

import graft.GraftSession

/** The JVM that dumps the class-data archive every benchmark run maps at
  * start-up (see `run.py`). It loads what a run loads first: it starts the
  * session, writes and reads back a small table in each format the pipeline
  * uses, joins and aggregates it, and stops.
  *
  * {{{
  * Startup DIR
  * }}}
  */
object Startup {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors())
    try {
      val df = spark.range(1000).selectExpr("id", "cast(id % 7 as string) as k")
      Seq("parquet", "json", "csv").foreach { fmt =>
        df.write.format(fmt).option("header", "true").save(s"$dir/$fmt")
        spark.read.format(fmt).option("header", "true").load(s"$dir/$fmt")
          .join(df, "k").groupBy("k").count().collect()
      }
    } finally spark.stop()
  }
}
