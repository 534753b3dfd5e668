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
}
