package graft.tools

import graft.Sessions
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import scala.collection.mutable

/** Per-stage wall/metric breakdown for declared queries — the measuring
  * half of the optimization loop (guide §1: decide whether time goes to
  * shuffle read, compute or scheduling BEFORE changing anything).
  *
  * `sbt "runMain graft.tools.Profile x102_dsir_select ..."` runs each
  * query once warm (JIT/codegen/footers) and once instrumented, then
  * prints every stage's wall time, task-time sum, input/shuffle bytes and
  * record counts, sorted by wall time, plus the job count (each job is a
  * driver-side action barrier — multi-action operators re-run lineage
  * unless they reuse exchanges or checkpoints). */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // same warmup as Bench so first measured stage isn't JIT noise
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      Seq("lineitem", "orders", "customer", "events", "documents", "embeddings")
        .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count())
    } catch { case _: Throwable => () }

    case class St(
        id: Int,
        name: String,
        tasks: Int,
        wallMs: Long,
        taskMs: Long,
        inBytes: Long,
        inRecs: Long,
        shRead: Long,
        shWrite: Long,
        spill: Long
    )
    val stages = mutable.ArrayBuffer[St]()
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
        val i = sc.stageInfo
        val m = i.taskMetrics
        val wall = (for {
          s <- i.submissionTime; c <- i.completionTime
        } yield c - s).getOrElse(-1L)
        stages += St(
          i.stageId,
          i.name.linesIterator.next().take(90),
          i.numTasks,
          wall,
          m.executorRunTime,
          m.inputMetrics.bytesRead,
          m.inputMetrics.recordsRead,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled
        )
      }
    }

    args.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      // warm pass
      val tw0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val warmS = (System.nanoTime() - tw0) / 1e9
      // measured pass
      stages.clear(); jobs = 0
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setJobDescription(n)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      // deliver every stage-completed event before snapshotting
      org.apache.spark.sql.GraftBridge.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      val snap = listener.synchronized { (stages.toVector, jobs) }
      println(f"\n===== $n  warm=$warmS%.2fs measured=$secs%.2fs jobs=${snap._2} stages=${snap._1.size} =====")
      println(f"${"wall_ms"}%8s ${"task_ms"}%8s ${"tasks"}%5s ${"in_MB"}%8s ${"in_rec"}%10s ${"shR_MB"}%7s ${"shW_MB"}%7s ${"spill"}%6s  name")
      snap._1.sortBy(-_.wallMs).take(25).foreach { s =>
        println(
          f"${s.wallMs}%8d ${s.taskMs}%8d ${s.tasks}%5d ${s.inBytes / 1e6}%8.1f ${s.inRecs}%10d " +
            f"${s.shRead / 1e6}%7.1f ${s.shWrite / 1e6}%7.1f ${s.spill / 1e6}%6.1f  ${s.name}"
        )
      }
      val totWall = snap._1.map(_.wallMs).sum
      println(f"stage wall sum=${totWall}ms (overlap possible), measured=${(secs * 1000).toLong}ms")
    }
    spark.stop()
  }
}
