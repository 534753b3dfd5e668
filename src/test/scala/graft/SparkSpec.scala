package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: [[graft.Session]]'s settings (the
  * configuration Bench times and ExplainOne prints), plus a private
  * warehouse dir and the RocksDB state store (required by
  * transformWithState; also the samsa-parity engine choice).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  override def afterAll(): Unit = () // shared session — never stopped per-suite
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Session.builder()
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
