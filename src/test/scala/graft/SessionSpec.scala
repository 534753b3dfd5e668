package graft

/** Tests, Bench, Verify and ExplainOne run one configuration: the test
  * session is built from [[Session]] and overrides none of its keys. */
class SessionSpec extends SparkSpec {

  test("the test session carries graft.Session's shared settings") {
    Session.settings.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"test session differs on $k")
    }
    assert(spark.sparkContext.master == s"local[${Session.cpus}]")
  }

  test("the library reads exactly five environment variables") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (cwd ${new java.io.File(".").getAbsolutePath})")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val read = """sys\.env(?:\.(?:get|getOrElse|contains|apply))?\(\s*"([A-Za-z0-9_]+)"""".r
    val keys = files(root).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val found = read.findAllMatchIn(src).map(_.group(1)).toSeq
      assert(found.size == """sys\.env""".r.findAllIn(src).size,
        s"${f.getPath}: an environment read with a non-literal key")
      assert(!src.contains("System.getenv"), s"${f.getPath}: System.getenv")
      found
    }.toSet
    assert(keys == Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
      "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_JAR", "GRAFT_GOLDEN_WRITE"))
  }
}
