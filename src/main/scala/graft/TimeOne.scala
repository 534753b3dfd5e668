package graft

/** Times registered queries through Bench's timed run
  * ([[Session.timed]]: same session settings, noop sink, caches cleared
  * after every rep) — the per-query iteration loop for performance work.
  * Usage: runMain graft.TimeOne <queryName[,queryName...]> [sfDir] [reps]
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = Session.local()
    // comma-separated names share one JVM (a fork costs ~30 s; a batch
    // of rows in one session is the practical iteration loop)
    name.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
      val q = SparkEntry.defs.find(_.name == n)
        .getOrElse(sys.error(s"no such query: $n"))
      val times = (1 to reps).map { i =>
        val s = Session.timed(spark)(q.run(spark, sfDir)).fold(e => throw e, identity)
        println(f"[timeone] $n rep $i: $s%.2f s")
        s
      }
      println(f"[timeone] $n BEST: ${times.min}%.2f s")
    }
    spark.stop()
  }
}
