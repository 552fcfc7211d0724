package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Optimization-round measurement harness (guide §1: measure first).
  *
  * For each named query (every declared query when none is named): runs
  * it twice (cold + warm), timing the warm pass with the SAME `.count()`
  * action the bench uses, and prints per-query job/stage/task counts and
  * shuffle bytes from a SparkListener — the local-mode stand-in for the
  * Spark UI's stage table — followed by one wall-time line per job of the
  * warm pass. Also dumps
  * `.explain("formatted")` to `<outDir>/<name>.txt` so plan claims are
  * checkable offline.
  *
  * Usage: `sbt "runMain graft.Profile <sfDir> <outDir> <query>..."`
  * Purely a measurement tool: never touched by Verify/Bench.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val spark = Harness.session()
    Files.createDirectories(Paths.get(outDir))

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shufRead = new AtomicLong(0L)
    val shufWrite = new AtomicLong(0L)
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); jobStart.put(j.jobId, System.nanoTime())
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val t0 = Option(jobStart.get(j.jobId)).getOrElse(0L)
        val ms = (System.nanoTime() - t0) / 1e6
        jobLog.add(f"    job ${j.jobId}%4d  ${ms}%8.1f ms")
      }
      override def onStageCompleted(st: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(st.stageInfo.numTasks)
        shufRead.addAndGet(st.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(st.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // the bench's warm-up and fixtures, so the cold pass is comparable
    Harness.warm(spark)
    Harness.fixtures(spark, sfDir)

    Harness.select(args.drop(2).toSeq).foreach { case QuerySpec(name, _, _, fn) =>
      // cold pass (codegen/JIT) — timed separately
      val coldS = Harness.run(spark, name)(fn(spark, sfDir).count()).secs
      // warm measured pass — planning (analysis+optimization+physical
      // planning, driver-side single-threaded) timed separately from
      // execution so the "is it Catalyst or the cluster" question has
      // a number (guide §7.3)
      jobs.set(0); stages.set(0); tasks.set(0); shufRead.set(0L); shufWrite.set(0L)
      jobLog.clear()
      val warm = Harness.run(spark, name) {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        df.queryExecution.executedPlan
        val planS = (System.nanoTime() - t0) / 1e9
        df.count()
        (df, planS)
      }
      warm.result.foreach { case (df, planS) =>
        val plan = try df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"explain failed: ${e.getMessage}" }
        Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
        println(f"$name%-28s cold ${coldS}%7.2f  warm ${warm.secs}%7.2f s  plan ${planS}%5.2f  jobs ${jobs.get}%3d  stages ${stages.get}%4d  tasks ${tasks.get}%5d  shufR ${shufRead.get / 1024}%8d KiB  shufW ${shufWrite.get / 1024}%8d KiB")
        import scala.jdk.CollectionConverters._
        jobLog.asScala.toSeq.sorted.foreach(println)
      }
    }
    spark.stop()
  }
}
