package graft

/** `Tables.load` reads each table's schema from a file footer on the
  * driver: the schema Spark's own inference gives, with no Spark job. */
class TablesSpec extends SparkSpec {

  test("every fixture table loads with Spark's inferred schema and runs no job") {
    Tables.names.foreach { name =>
      val (df, jobs) = countingJobs(Tables.load(spark, sf(), name))
      assert(jobs == 0, s"$name: Tables.load ran $jobs jobs")
      assert(df.schema == spark.read.parquet(s"${sf()}/$name.parquet").schema, name)
    }
  }

  test("a directory of part files written by Spark loads with its inferred schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    Tables.orders(spark, sf()).repartition(3).write.parquet(s"$dir/orders.parquet")
    val (df, jobs) = countingJobs(Tables.orders(spark, dir))
    assert(jobs == 0)
    assert(df.schema == spark.read.parquet(s"$dir/orders.parquet").schema)
    assert(df.count() == Tables.orders(spark, sf()).count())
  }
}
