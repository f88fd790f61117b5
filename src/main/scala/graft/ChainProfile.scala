package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev main: per-JOB wall breakdown of one registry query's chain — the
  * measurement §1 of the optimization guide asks for when the UI is off.
  * An iterative family (propagation loops, convergence probes) executes
  * dozens of sequential jobs (checkpoint materializations, broadcast
  * builds, gate counts); Bench times only the lump. This listener prints
  * every job's wall + callsite so the slow ROUND or the surprise extra
  * materialization is visible directly.
  *
  * Usage: tools/run.sh graft.ChainProfile <sfDir> <query> [reps]
  */
object ChainProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',').map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = Sessions.local()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val rows = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Int, Double, String)]())
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
        val site = p.flatMap(x => Option(x.getProperty("spark.job.description")))
          .orElse(p.flatMap(x => Option(x.getProperty("callSite.short"))))
          .getOrElse("?")
        starts.put(js.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, site) =>
          rows.add((je.jobId, (System.nanoTime() - t0) / 1e9, site))
        }
      }
    })
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Thread.sleep(200); rows.clear()
    for (name <- names; r <- 1 to reps) {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let async job-end events drain
      println(f"==== $name rep$r total ${wall}%.2f s, jobs=${rows.size()}")
      import scala.jdk.CollectionConverters._
      val snap = rows.asScala.toVector.sortBy(_._1)
      val total = snap.map(_._2).sum
      for ((id, s, site) <- snap if s > 0.02)
        println(f"[job $id%4d] $s%7.3f s  $site")
      println(f"==== sum-of-jobs ${total}%.2f s (gaps = driver/plan time: ${wall - total}%.2f s)")
      rows.clear()
    }
    spark.stop()
  }
}
