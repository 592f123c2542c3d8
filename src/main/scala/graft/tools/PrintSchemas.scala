package graft.tools

/** Dev tool: print the RAW Spark-inferred schema of every fixture
  * table (pre-conform, so it works even when `Tables.conform` would
  * fail fast on drift). Run after a driver-side fixture regeneration
  * to re-measure `Tables.expectedDdl`:
  * {{{ sbt "runMain graft.tools.PrintSchemas [sfDir]" }}}
  */
object PrintSchemas {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.EngineSession.builder("local[4]", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Same legacy conf Tables.t sets for events' historical ns encoding.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.ops.Tables.names.foreach { n =>
      val ddl =
        try spark.read.parquet(s"$sfDir/$n.parquet").schema.toDDL
        catch { case e: Throwable => s"<unreadable: ${e.getMessage}>" }
      println(s"SCHEMA $n :: $ddl")
    }
    spark.stop()
  }
}
