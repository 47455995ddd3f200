package graft.dev

import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession

/** Warmup-sweep pool-width A/B under synthetic contention (r20, VERDICT
  * r19 item 1): the driver's 1.44×-contended round inflated warmup
  * 59.8 → 141.9 s with the 8-worker sweep's top steps at ~8× their quiet
  * cost — super-linear in the external load, pointing at the pool's own
  * oversubscription (8 sweep steps + the target-dir waves + the
  * co-tenant all fighting for 32 hardware threads). This probe measures
  * that directly so the width policy is set from data, not vibes.
  * VERDICT: the hypothesis was REFUTED — width 8 won at every measured
  * multiplier (r20 runs, BASELINE-notes), so Bench keeps the full pool
  * and r20's fix is warmup ADJUDICABILITY (probe emission + the declared
  * warmup floor), not narrowing.
  *
  *   sbt -batch "runMain graft.dev.SweepProbe [burnerThreads [width...]]"
  *
  * Protocol: exact Bench warmup shape — the TARGET-dir INDEX fill
  * (Bench.indexFills, steps concurrent) runs CONCURRENTLY with a
  * work-stealing pool of W workers executing every `queries` entry at the
  * tiny dir through the noop sink in Bench.sweepOrder's LPT order.
  * Contention is K spinning daemon
  * threads (pure register arithmetic — the co-tenant model; note the
  * driver's real contention is hypervisor-level and additionally
  * invisible to guest jiffy accounting). Each config runs in a FRESH
  * child SparkSession (every graft cache keys on the session, so each
  * width re-pays identical fills) with the previous session's caches
  * freed; one discarded width-8 round pays JVM-wide JIT/codegen first so
  * config order doesn't bias. Output: one SWEEPPROBE line per config
  * with fill/pool/total wall and the calib-probe host multiplier
  * context.
  */
object SweepProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val tinyDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val burners = args.headOption.flatMap(_.toIntOption).getOrElse(0)
    val widths =
      if (args.length > 1) args.drop(1).toSeq.flatMap(_.toIntOption)
      else Seq(8, 4, 2)
    val root = graft.Sessions.start(cpus)
    implicit val ec: ExecutionContext = ExecutionContext.global

    @volatile var burn = true
    (1 to burners).foreach { i =>
      val t = new Thread(() => {
        var x = 2654435761L + i
        while (burn) { x = x * 6364136223846793005L + 1442695040888963407L }
        if (x == 42L) println(x) // defeat dead-code elimination
      }, s"sweepprobe-burner-$i")
      t.setDaemon(true)
      t.start()
    }

    def calib(spark: SparkSession): Double = Seq.fill(2) {
      val t0 = System.nanoTime()
      spark.range(0L, 2048000000L, 1L, 64)
        .selectExpr("sum(id * 2654435761L % 1000003)").collect()
      (System.nanoTime() - t0) / 1e9
    }.min


    def config(spark: SparkSession, width: Int, label: String): Unit = {
      val c0 = calib(spark)
      val t0 = System.nanoTime()
      // the target-dir INDEX fill, exactly Bench's overlap arm
      val fill = Future {
        val w0 = System.nanoTime()
        Await.result(Future.sequence(graft.Bench.indexFills(spark, sfDir)
          .map(s => Future { s(); () })), 15.minutes)
        (System.nanoTime() - w0) / 1e9
      }
      val sweep = Future {
        val p0 = System.nanoTime()
        val queue = new ConcurrentLinkedQueue[
          (String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]()
        graft.Bench.sweepOrder(width).foreach(queue.add)
        val workers = (1 to width).map { _ =>
          Future {
            var step = queue.poll()
            while (step != null) {
              try step._2(spark, tinyDir)
                .write.mode("overwrite").format("noop").save()
              catch { case e: Throwable =>
                System.err.println(s"SWEEPPROBE ${step._1} failed: " +
                  e.getMessage)
              }
              step = queue.poll()
            }
          }
        }
        Await.result(Future.sequence(workers), 30.minutes)
        (System.nanoTime() - p0) / 1e9
      }
      val fillSec = Await.result(fill, 35.minutes)
      val poolSec = Await.result(sweep, 35.minutes)
      val total = (System.nanoTime() - t0) / 1e9
      val c1 = calib(spark)
      println(f"SWEEPPROBE $label width=$width%2d burners=$burners%2d " +
        f"total=$total%7.2f fill=$fillSec%7.2f pool=$poolSec%7.2f " +
        f"calib=$c0%.2f/$c1%.2f")
      graft.Caches.clear(spark)
    }

    // discarded JIT round: pays codegen/JIT for every plan JVM-wide so
    // the measured configs differ only in pool width
    config(root, 8, "jit-discard")
    widths.foreach(w => config(root.newSession(), w, "measured"))
    burn = false
    root.stop()
  }
}
